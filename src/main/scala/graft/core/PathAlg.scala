package graft.core

/** Pure path algebra for the blueprint file operators.
  *
  * Behavior derived from the reference's name-manipulation helpers
  * (see /root/reference/googlecloudstorage_blueprints/download_file.py:65-144,
  * upload_file.py:68-151): folder cleaning, folder+file joining, basename
  * extraction, and the `_N`-before-first-dot enumeration used to avoid
  * overwrites on multi-match copies. Pure Scala — unit/property tested with
  * no Spark dependency; [[graft.sources.FileManifest]] applies the name
  * helpers to every manifest row.
  */
object PathAlg {

  /** Strip leading/trailing slashes, collapse duplicate slashes, and
    * normalize dot segments the way `os.path.normpath` does (drop `.`,
    * resolve `a/..`, keep leading `..` of a relative path).
    * Reference: download_file.py:109-116 (`clean_folder_name`) composed
    * with the normpath inside download_file.py:119-127.
    */
  def cleanFolderName(folder: String): String = {
    val segs = folder.trim.split("/").filter(s => s.nonEmpty && s != ".")
    val out = scala.collection.mutable.ListBuffer.empty[String]
    segs.foreach {
      case ".." if out.nonEmpty && out.last != ".." => out.remove(out.length - 1)
      case s => out += s
    }
    out.mkString("/")
  }

  /** Join folder and file into a normalized relative path.
    * Reference: download_file.py:119-127 (`combine_folder_and_file_name`).
    */
  def combine(folderName: String, fileName: String): String = {
    val folder = cleanFolderName(folderName)
    val file = fileName.trim
    if (folder.isEmpty) file
    else if (file.isEmpty) folder
    else s"$folder/$file"
  }

  /** Basename of a `/`-separated object name.
    * Reference: download_file.py:65-71 (`extract_file_name_from_source_full_path`).
    */
  def baseName(fullPath: String): String = {
    val idx = fullPath.lastIndexOf('/')
    if (idx < 0) fullPath else fullPath.substring(idx + 1)
  }

  /** Folder component (everything before the last `/`), or "" when flat. */
  def dirName(fullPath: String): String = {
    val idx = fullPath.lastIndexOf('/')
    if (idx < 0) "" else fullPath.substring(0, idx)
  }

  /** Inject `_n` before the FIRST dot: `data.csv` -> `data_1.csv`,
    * `archive.tar.gz` -> `archive_1.tar.gz`, `noext` -> `noext_1`.
    * Reference: download_file.py:74-84 (`enumerate_destination_file_name`).
    */
  def enumerateFileName(fileName: String, n: Long): String = {
    val idx = fileName.indexOf('.')
    if (idx < 0) s"${fileName}_$n"
    else s"${fileName.substring(0, idx)}_$n${fileName.substring(idx)}"
  }

  /** Three-way destination-name choice: explicit name / enumerated explicit
    * name / basename of the source.
    * Reference: download_file.py:87-106 (`determine_destination_file_name`).
    *
    * @param fileNumber Some(n) on the multi-match path. The reference's own
    *   blueprints diverge here (download/upload always enumerate on the regex
    *   path even for one match — download_file.py:254-258; move enumerates
    *   only when >1 match — move_file.py:185-191). Callers pick; move's
    *   behavior is canonical (SURVEY §2A-O4).
    */
  def determineFileName(
      sourceFullPath: String,
      destinationFileName: Option[String],
      fileNumber: Option[Int]): String =
    (destinationFileName, fileNumber) match {
      case (Some(dest), Some(n)) => enumerateFileName(dest, n)
      case (Some(dest), None)    => dest
      case (None, _)             => baseName(sourceFullPath)
    }

  /** Full destination path = cleaned folder + chosen file name.
    * Reference: download_file.py:130-144 (`determine_destination_full_path`).
    */
  def determineFullPath(
      destinationFolderName: String,
      destinationFileName: Option[String],
      sourceFullPath: String,
      fileNumber: Option[Int]): String =
    combine(
      destinationFolderName,
      determineFileName(sourceFullPath, destinationFileName, fileNumber))
}
