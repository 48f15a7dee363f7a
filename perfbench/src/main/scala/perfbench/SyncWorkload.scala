package perfbench

import java.sql.{Connection, DriverManager}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.bangumi.BangumiTransforms
import graft.functions.GraftFunctions
import graft.operators.SnapshotMerge
import graft.sinks.{HttpNotionApi, JdbcLoad, NotionSink}
import graft.sources.bangumi.BangumiTableProvider

/** One benchmark workload, driven closed-loop by [[Main]]: set up, warm
  * up, then passes, each after an untimed [[prepare]] and followed by an
  * untimed [[check]]. */
trait Workload {
  /** Builds the inputs from the seed and starts what the passes use.
    * Called several times; each call replaces the previous set-up. */
  def setup(rep: Int): Unit
  /** Untimed passes that let classes load and the JIT settle; returns
    * correctness failures. */
  def warmup(): Seq[String]
  def prepare(): Unit
  /** One pass; returns the seconds spent in benchmark-only audit calls,
    * which the pass time excludes. */
  def pass(): Double
  /** Correctness failures of the last pass. */
  def check(): Seq[String]
  /** Source items one pass handles. */
  def items: Long
  /** Passes a run times at least, whatever `--seconds` says. */
  def minPasses: Int
  /** Operations the last pass attempted, and how many of them failed. */
  def ops: (Long, Long)
  /** Per-layer counts and seconds of the last pass, by metric name. */
  def layer(): Map[String, Double]
  def close(): Unit
}

/** Wraps the wire client so the benchmark can time the sink's read-back of
  * existing pages (S5), which `NotionSink.upsert` calls on the Spark driver. */
final class TracedNotionApi(baseUrl: String, propertyTypes: Map[String, String])
    extends HttpNotionApi(baseUrl, "bench-token", "bench-parent", propertyTypes) {
  override def existingRecords(): Map[Long, String] =
    Tracer.span("notion.readback")(super.existingRecords())
}

/** `sync_delta`: the reference job, Bangumi REST → parse → raw and
  * analytics frames → JDBC stage tables → incremental sync of the target
  * table → Notion upsert of the target, through the program's public layer
  * functions against the in-process stubs and an in-memory Derby. Every
  * pass re-syncs the seeded corpus with the run's change set applied
  * against the warm state a full sync left behind.
  *
  * Each stage materializes before the next starts, so every layer's time
  * is its own: the scan is cached once (the raw and analytics writes would
  * otherwise each re-fetch it over HTTP), the two projections are cached,
  * and the JDBC and Notion stages read those caches.
  */
final class SyncWorkload(spark: SparkSession, seed: Long, n: Int) extends Workload {
  import SyncWorkload._

  private var base: IndexedSeq[Item] = _
  private var changes: ChangeSet = _
  private var changed: Seq[Item] = _

  private var stubs: Stubs = _
  private var url: String = _
  private var conn: Connection = _
  private var api: TracedNotionApi = _
  private var baseSnapshot: (Long, Seq[(String, NotionStub.Page)]) = _

  private var sourceRows, transformRows = 0L
  private var report = NotionSink.WriteReport(0, 0, 0, 0)
  private var merge: Map[String, Long] = Map.empty
  private var fullLayer: Map[String, Double] = Map.empty

  override def items: Long = n
  // one pass in a few is slowed by a burst of host contention (the pass
  // waits on some 2000 sequential HTTP round trips and 26 small Spark
  // jobs), so a run takes the median of six passes; with three, one slow
  // pass of the three could still move it
  override def minPasses: Int = 6

  /** Notion property types of the synced table: the analytics projection
    * minus the columns the MySQL load drops (the JDBC round trip keeps
    * every type's property kind). */
  private lazy val propertyTypes: Map[String, String] = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("value", StringType))))
    val schema = BangumiTransforms.analyticsProjection(
      BangumiTransforms.parseItems(empty)).drop(JdbcLoad.analyticsDropCols: _*).schema
    NotionSink.propertySchema(schema, Key)
  }

  override def setup(rep: Int): Unit = {
    close()
    base = Corpus.base(seed, n)
    changes = Corpus.changes(seed, base)
    changed = changes(base)
    if (rep == 0)
      System.err.println(s"[perfbench] corpus: ${base.size} items, fixture shapes " +
        Corpus.shapes(base).map { case (k, v) => s"$k=$v" }.mkString(", "))
    GraftFunctions.register(spark)
    stubs = new Stubs(new BangumiStub, new NotionStub(Key))
    url = s"jdbc:derby:memory:perfbench$rep;create=true"
    conn = DriverManager.getConnection(url)
    api = new TracedNotionApi(stubs.baseUrl, propertyTypes)
    api.ensureParentPage(Some("bench-parent"), "Bangumi Data Import")
    api.createDatabase("Bangumi Database", propertyTypes)
    stubs.bangumi.serve(base)
  }

  private def exec(sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def tableExists(t: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, t.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  /** A full sync of the base corpus into an empty target and an empty
    * sink, which builds the warm state every delta pass starts from, then
    * one delta pass. When traced, the full sync's layer counts are kept as
    * the `full.*` metrics. */
  override def warmup(): Seq[String] = {
    Seq(Raw, Stage, Target).filter(tableExists).foreach(t => exec(s"DROP TABLE $t"))
    stubs.notion.clear()
    stubs.bangumi.serve(base)
    resetCounters()
    val t0 = System.nanoTime()
    val audit = pass()
    val fullS = (System.nanoTime() - t0) / 1e9 - audit
    val errs = verify(base, Set.empty) ++ checkMerge(Map("insert" -> n.toLong))
    if (Tracer.enabled) {
      val l = layer()
      fullLayer = Map("full.pass_s" -> fullS) ++ Seq("jdbc.sync_useful_ratio",
        "notion.useful_ratio", "notion.requests.post", "merge.insert")
        .map(k => s"full.$k" -> l(k))
    }
    exec(s"CREATE TABLE $Snapshot AS SELECT * FROM $Target WITH NO DATA")
    exec(s"INSERT INTO $Snapshot SELECT * FROM $Target")
    baseSnapshot = stubs.notion.snapshot()
    stubs.bangumi.serve(changed)
    // one untimed delta pass as well: the update, delete and non-empty
    // merge paths run for the first time here, not in the first timed pass
    prepare()
    val traced = Tracer.enabled
    Tracer.enabled = false
    pass()
    val deltaErrs = check()
    Tracer.enabled = traced
    errs ++ deltaErrs
  }

  /** Back to the warm base state: the target and the sink as the full sync
    * left them. */
  override def prepare(): Unit = {
    if (tableExists(Target)) exec(s"DROP TABLE $Target")
    exec(s"CREATE TABLE $Target AS SELECT * FROM $Snapshot WITH NO DATA")
    exec(s"INSERT INTO $Target SELECT * FROM $Snapshot")
    stubs.notion.restore(baseSnapshot)
    resetCounters()
  }

  private def resetCounters(): Unit = {
    stubs.bangumi.resetCounters()
    stubs.notion.resetCounters()
  }

  override def pass(): Double = {
    val lines = Tracer.span("source.scan") {
      val df = spark.read.format(classOf[BangumiTableProvider].getName)
        .option("client", "http").option("baseUrl", stubs.baseUrl)
        .option("username", User).option("backoffMillis", "50")
        .load().cache()
      sourceRows = df.count()
      df
    }
    val (items, raw, analytics) = Tracer.span("transforms") {
      val items = BangumiTransforms.parseItems(lines).cache()
      val raw = BangumiTransforms.rawProjection(items, User).cache()
      val analytics = BangumiTransforms.analyticsProjection(items)
        .drop(JdbcLoad.analyticsDropCols: _*).cache()
      transformRows = raw.count()
      analytics.count()
      (items, raw, analytics)
    }
    Tracer.span("jdbc.write") {
      JdbcLoad.writeOverwrite(raw, url, Raw)
      JdbcLoad.writeOverwrite(analytics, url, Stage)
    }
    val audit =
      if (!Tracer.enabled) 0.0
      else {
        val t0 = System.nanoTime()
        merge = mergeCounts()
        (System.nanoTime() - t0) / 1e9
      }
    Tracer.span("jdbc.sync") {
      JdbcLoad.incrementalSync(spark, url, Stage, Target, Key)
    }
    Tracer.span("notion.upsert") {
      report = NotionSink.upsert(JdbcLoad.readTable(spark, url, Target), Key, api)
    }
    Seq(analytics, raw, items, lines).foreach(_.unpersist(blocking = true))
    audit
  }

  /** Benchmark-only audit: the merge classification of the stage against
    * the current target, through `SnapshotMerge.mergeActions`. */
  private def mergeCounts(): Map[String, Long] = {
    val src = JdbcLoad.readTable(spark, url, Stage)
    val tgt = if (tableExists(Target)) JdbcLoad.readTable(spark, url, Target)
      else src.limit(0)
    SnapshotMerge.mergeActions(src, tgt, Key, src.columns.filterNot(_ == Key).toSeq)
      .groupBy(col("action")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  override def check(): Seq[String] =
    verify(changed, changes.removed.toSet) ++ checkMerge(Map(
      "insert" -> changes.added.size.toLong,
      "update" -> changes.edited.size.toLong,
      "delete" -> changes.removed.size.toLong,
      "unchanged" -> (n - changes.edited.size - changes.removed.size).toLong))

  /** The audit's merge classification (traced passes only) against the
    * generator's change set. */
  private def checkMerge(want: Map[String, Long]): Seq[String] =
    if (!Tracer.enabled || merge == want) Nil
    else Seq(s"merge actions $merge, expected $want")

  /** The Derby target and the Notion stub against the generator. */
  private def verify(want: Seq[Item], inactive: Set[Long]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val expect = Corpus.expected(want)
    val got = readTarget()
    if (got != expect) {
      val diff = (expect.keySet ++ got.keySet).filter(k => expect.get(k) != got.get(k))
      errs += s"derby target differs on ${diff.size} ids (of ${expect.size} " +
        s"expected, ${got.size} found), e.g. " +
        diff.take(3).map(k => s"$k: ${got.get(k)} != ${expect.get(k)}").mkString("; ")
    }
    val active = Corpus.ids(want)
    if (stubs.notion.activeKeys != active)
      errs += s"notion active keys: ${stubs.notion.activeKeys.size} found, " +
        s"${active.size} expected, ${(stubs.notion.activeKeys diff active).size} unexpected"
    if (stubs.notion.inactiveKeys != inactive)
      errs += s"notion inactive keys: ${stubs.notion.inactiveKeys.size} found, " +
        s"${inactive.size} expected"
    val scores = want.flatMap(i => i.score.map(i.id -> _)).toMap
    if (stubs.notion.activeNumbers("score") != scores)
      errs += "notion scores differ from the generator's"
    if (sourceRows != want.size)
      errs += s"source returned $sourceRows items, ${want.size} served"
    errs.result()
  }

  private def readTarget(): Map[Long, (Int, Int, Option[Double])] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        s"""SELECT "$Key", "subject_type", "collection_type", "score" FROM $Target""")
      val out = Map.newBuilder[Long, (Int, Int, Option[Double])]
      while (rs.next()) {
        val s = rs.getDouble(4)
        val score = if (rs.wasNull()) None else Some(s)
        out += rs.getLong(1) -> ((rs.getInt(2), rs.getInt(3), score))
      }
      out.result()
    } finally st.close()
  }

  private def targetRows: Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $Target")
      rs.next(); rs.getLong(1)
    } finally st.close()
  }

  override def ops: (Long, Long) = {
    val pages = stubs.bangumi.requests.total
    val writes = report.inserted + report.updated + report.softDeleted + report.errors
    // rows the source lost (pages its circuit breaker skipped) count as
    // failed pages of the source's page size
    val lostPages = math.max(0L, changed.size - sourceRows + PageSize - 1) / PageSize
    (pages + writes, report.errors + lostPages)
  }

  override def layer(): Map[String, Double] = {
    val b = stubs.bangumi
    val nt = stubs.notion
    val post = nt.requests.get("POST /v1/pages").toDouble
    val patch = nt.requests.get("PATCH /v1/pages/{id}").toDouble
    val rewritten = targetRows.toDouble
    val changedRows = Seq("insert", "update", "delete").map(merge.getOrElse(_, 0L)).sum
    Map(
      "source.requests" -> b.requests.total.toDouble,
      "source.retries" -> b.repeats.sum().toDouble,
      "source.items" -> sourceRows.toDouble,
      "transforms.rows" -> transformRows.toDouble,
      "jdbc.rows_written" -> 2.0 * transformRows,
      "jdbc.sync_rows_rewritten" -> rewritten,
      "jdbc.sync_useful_ratio" -> (if (rewritten > 0) changedRows / rewritten else 0.0),
      "merge.insert" -> merge.getOrElse("insert", 0L).toDouble,
      "merge.update" -> merge.getOrElse("update", 0L).toDouble,
      "merge.delete" -> merge.getOrElse("delete", 0L).toDouble,
      "merge.unchanged" -> merge.getOrElse("unchanged", 0L).toDouble,
      "notion.requests.post" -> post,
      "notion.requests.patch" -> patch,
      "notion.requests.query" -> nt.requests.get("POST /v1/databases/{id}/query").toDouble,
      "notion.changed" -> nt.useful.sum().toDouble,
      "notion.useful_ratio" ->
        (if (post + patch > 0) nt.useful.sum() / (post + patch) else 0.0),
      "notion.errors" -> report.errors.toDouble) ++ fullLayer
  }

  override def close(): Unit = {
    if (stubs != null) stubs.stop()
    if (conn != null) {
      val db = url.stripSuffix(";create=true")
      conn.close()
      try DriverManager.getConnection(s"$db;drop=true")
      catch { case NonFatal(_) => } // Derby reports a successful drop as an SQLException
    }
    stubs = null
    conn = null
  }
}

object SyncWorkload {
  val User = "bench"
  val Key = "subject_id"
  val PageSize = 100 // the source's default page size
  private val Raw = "bangumi_raw"
  private val Stage = "bangumi_analytics_stage"
  private val Target = "bangumi_analytics"
  private val Snapshot = "bangumi_analytics_base"
}
