package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query (SURVEY.md §2C): a Spark DataFrame
  * implementation plus, where SQL-expressible, a DuckDB oracle query that
  * must hash-match it row-for-row (driver gate t2).
  *
  * Determinism contract (SURVEY §2C rules): every query ends in a total
  * ORDER BY over a unique key set; every float aggregate is ROUND(x, 4) on
  * both sides; counts are BIGINT on both sides; event timestamps are
  * compared as BIGINT microseconds (see [[graft.Tables.events]]).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Scratch directories for queries that persist artifacts mid-query (ANN
  * indexes, JSONL shards). Paths are pid-suffixed so two concurrent JVMs
  * cannot race one overwrite path, and every handed-out path is deleted
  * recursively on JVM exit so repeated driver runs do not accumulate
  * encoded copies of the tables in /tmp. [[once]] guards per-JVM builds
  * with an IN-MEMORY set, not a filesystem marker: a marker would let a
  * recycled pid trust a stale directory left by a crashed run or built
  * from an older version of the dataset.
  */
object Scratch {
  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val issued = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      issued.forEach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(p))
      }))
  }

  /** Stable within one JVM for a (kind, dataset dir) pair. unsigned-hex
    * hash, not math.abs: abs(Int.MinValue) is negative.
    */
  def path(kind: String, dir: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      s"${java.lang.Integer.toUnsignedString(dir.hashCode, 16)}" +
      s"_p${ProcessHandle.current().pid()}"
    issued.add(p)
    p
  }

  /** Run `build` only the first time this JVM sees `key`; a build that
    * throws is forgotten so the next call retries instead of trusting a
    * half-written artifact. CONCURRENT callers block until the in-flight
    * build completes (round-10 review: marking "built" before the
    * parquet write finishes would let a second query sharing the
    * artifact — q105 with q100's spans, q156/q157 with q155's turns —
    * read a missing or half-written path under parallel suite
    * execution); a waiter woken by a FAILED build retries it.
    */
  def once(key: String)(build: => Unit): Unit = {
    while (!built.contains(key)) {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val prev = inFlight.putIfAbsent(key, latch)
      if (prev == null) {
        try {
          // double-check after winning the latch: a thread that observed
          // !built, then stalled while another thread finished the build
          // and removed ITS latch, would otherwise re-run the build and
          // rewrite the parquet under concurrent readers (round-10 advice)
          if (!built.contains(key)) { build; built.add(key) }
          ()
        } finally { inFlight.remove(key); latch.countDown() }
      } else prev.await()
    }
  }
  private val inFlight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()
}

object Catalog {
  val all: Seq[QueryDef] = {
    val defs =
      Relational.defs ++ Analytics.defs ++ TextPipeline.defs ++ Dedup.defs ++
        StreamParity.defs ++ Media.defs ++ SqlEntry.defs ++ ScalePaths.defs ++
        Curation.defs ++ TimeSeries.defs ++ Classifier.defs ++ Tokenizer.defs ++
        Reporting.defs ++ BudgetSelect.defs ++ Coreset.defs ++ Clustering.defs ++ Mixture.defs ++ HardNegatives.defs ++
        RetrievalEval.defs ++ UnigramTok.defs ++ QualitySignals.defs ++
        CurationPipeline.defs ++ SftPrep.defs ++ Langid.defs
    // a duplicated name would silently SHADOW a query in the Maps below —
    // the driver would then verify one query twice and the other never
    val dups = defs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names in Catalog: ${dups.mkString(", ")}")
    defs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.fn).toMap
  lazy val oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
