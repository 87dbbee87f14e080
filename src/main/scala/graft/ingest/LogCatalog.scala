package graft.ingest

import graft.analyze.ClusterAnalyzer
import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The engine's replacement for the reference's session-global
  * `logs_storage: dict[node_key -> file content]`
  * (`cassandra_log_analyzer.py:336`): an explicit catalog of named raw
  * line DataFrames, with the parse+classify relation computed once and
  * cached (the reference recomputes it on every analytical call —
  * `cassandra_log_analyzer.py:745,808,831,847`).
  *
  * Key semantics preserved (SURVEY.md §7.4.5):
  *  - SSH-style loads are keyed `{node}_{type}`
  *    (`cassandra_log_analyzer.py:661,671`); manual/inline loads use the
  *    BARE node name — `log_type` is accepted but ignored in the key
  *    (`:729`);
  *  - `split('\n')` keeps a trailing empty line, which counts in
  *    `total_lines` (`:231,:730,:262`) — we split with limit -1;
  *  - node iteration order = insertion order (LinkedHashMap).
  */
final class LogCatalog(val spark: SparkSession) {

  private val storage = mutable.LinkedHashMap.empty[String, DataFrame]
  private var cachedClassified: Option[DataFrame] = None

  private def invalidate(): Unit = synchronized {
    cachedClassified.foreach(_.unpersist())
    cachedClassified = None
  }

  private def linesDf(nodeKey: String, lines: Seq[String]): DataFrame = {
    val rows = lines.zipWithIndex.map { case (l, i) => Row(nodeKey, (i + 1).toLong, l) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), Schemas.rawLine)
  }

  /** The parity loader: `content` under the node key exactly as given
    * — the BARE node name for `load_logs`
    * (`cassandra_log_analyzer.py:724-736`), `{node}_{type}` for
    * [[RemoteFetcher]] fetches (`:661,671`). Returns (line count incl.
    * the trailing empty line of Python's `split('\n')`, total node
    * keys) — the tools' reported numbers.
    */
  def loadContent(nodeKey: String, content: String): (Long, Int) = synchronized {
    val lines = content.split("\n", -1).toSeq // Python str.split('\n') parity
    storage(nodeKey) = linesDf(nodeKey, lines)
    invalidate()
    (lines.size.toLong, storage.size)
  }

  /** Scale-path file load: `spark.read.text` over a path/glob (no
    * driver-side materialization, splittable, distributed). Line numbers
    * are NOT assigned (no stable global order at scale) — queries that
    * need them use the parity loaders; everything else (summary,
    * histogram, search content) is order-free.
    */
  def loadDistributed(nodeName: String, logType: String, pathOrGlob: String): Unit = synchronized {
    val key = s"${nodeName}_$logType"
    storage(key) = spark.read.text(pathOrGlob)
      .select(lit(key).as("node"), lit(-1L).as("line_number"), col("value"))
    invalidate()
  }

  /** Node keys in insertion order (= reference dict order). */
  def nodeKeys: Seq[String] = synchronized(storage.keys.toSeq)

  def isEmpty: Boolean = synchronized(storage.isEmpty)

  /** Distinct BASE node count — `len(set(k.rsplit('_',1)[0] ...))`
    * (`cassandra_log_analyzer.py:678`).
    */
  def distinctBaseNodes: Long = synchronized {
    storage.keys.map(k => k.lastIndexOf('_') match {
      case -1 => k
      case i => k.substring(0, i)
    }).toSet.size.toLong
  }

  /** UNION ALL of every node's raw lines (SURVEY.md §2.7 U1). */
  def raw: DataFrame = synchronized {
    require(storage.nonEmpty, "no logs loaded — use loadContent first")
    storage.values.reduce(_.unionByName(_))
  }

  /** Raw lines of one node key; a missing key yields an EMPTY relation,
    * not an error (`logs_storage.get(node_filter, "")` quirk,
    * `cassandra_log_analyzer.py:780`).
    */
  def rawFor(nodeKey: String): DataFrame = synchronized {
    storage.getOrElse(nodeKey, spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.rawLine))
  }

  /** The parse+classify relation, computed once and cached — the
    * engine-side answer to the reference's recompute-per-call.
    */
  def classified: DataFrame = synchronized {
    cachedClassified.getOrElse {
      val df = ClusterAnalyzer.classify(raw).cache()
      cachedClassified = Some(df)
      df
    }
  }
}
