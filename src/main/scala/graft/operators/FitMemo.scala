package graft.operators

import org.apache.spark.sql.SparkSession

/** The session-lifetime memo for fitted models (PCA, linear probe,
  * unigram vocab, coarse quantizer, PQ codebooks). A fit is a
  * deterministic pure function of one test table's content and its
  * parameters, so contract queries and bench passes train once per
  * session and probe the memoized model. The key is
  * `dir # tableFingerprint(table) # params`, the fit's name first among
  * the params: regenerating the table at the same path changes its
  * fingerprint and refits instead of serving a fit of the old data. A
  * fit derives its training frame from `(s, dir)`, never from a
  * caller's frame, so the key cannot disagree with what was trained on.
  * Entries are bounded by distinct (corpus, params) pairs; a racing
  * double-compute is harmless (identical result). Hits and misses are
  * counted.
  */
object FitMemo {
  private val fits = scala.collection.concurrent.TrieMap.empty[String, Any]
  private val hitCount, missCount = new java.util.concurrent.atomic.LongAdder

  def apply[T](s: SparkSession, dir: String, table: String, params: Any*)(
      fit: => T): T = {
    val key = (Seq(dir, Q.tableFingerprint(s, dir, table)) ++ params)
      .mkString("#")
    fits.get(key) match {
      case Some(v) => hitCount.increment(); v.asInstanceOf[T]
      case None =>
        missCount.increment()
        fits.getOrElseUpdate(key, fit).asInstanceOf[T]
    }
  }

  def hits: Long = hitCount.sum()
  def misses: Long = missCount.sum()
}
