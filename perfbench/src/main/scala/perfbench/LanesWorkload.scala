package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.Checkpoints

/** `lanes_heavy`: one sweep of four heavy lanes through
  * `SparkEntry.queries` into a `noop` sink, over documents the benchmark
  * generates. Data and lane order are fixed, whatever the seed:
  * every lane's output is checked against a pinned row count and hash
  * ([[LanesWorkload.PinsFile]]), and a seeded order would add JIT-order
  * noise to the sweep time.
  */
final class LanesWorkload(spark: SparkSession, work: Path,
    engine: EngineListener) extends Workload {
  import LanesWorkload._

  private var dir: Path = _
  private val pins = LanesWorkload.pins()
  private val planning = new PlanningListener
  spark.listenerManager.register(planning)
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var lastLayer: Map[String, Double] = Map.empty

  override def items: Long = Lanes.size.toLong * LaneData.Docs
  override def minPasses: Int = 1

  override def setup(rep: Int): Unit = {
    if (dir != null) LaneData.rmTree(dir)
    dir = work.resolve(s"lanes-data-$rep")
    LaneData.write(spark, dir)
  }

  /** Frees what a lane left in the session (caches, operator checkpoints)
    * and collects garbage, as `graft.Bench` does between lanes, so each lane
    * starts from the same quiet session. */
  private def quiesce(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Checkpoints.releaseTracked()
    System.gc()
  }

  override def warmup(): Seq[String] = {
    pass()
    check()
  }

  override def prepare(): Unit = ()

  override def pass(): Double = {
    failures.clear()
    val layer = Map.newBuilder[String, Double]
    var excluded = 0.0
    Lanes.foreach { case (name, _) =>
      val e0 = engine.snapshot(spark.sparkContext)
      // the output's row count and hash ride along as observed metrics of
      // the noop write itself, so checking costs no second execution
      val obs = new Observation(s"check-$name")
      var constructS, writeS = 0.0
      try {
        val t0 = System.nanoTime()
        val df = Tracer.span(s"lane.$name.construct") {
          SparkEntry.queries(name)(spark, dir.toString)
        }
        val t1 = System.nanoTime()
        val (rows, hash) = digestColumns(df)
        Tracer.span(s"lane.$name.write") {
          df.observe(obs, rows, hash).write.format("noop").mode("overwrite").save()
        }
        constructS = (t1 - t0) / 1e9
        writeS = (System.nanoTime() - t1) / 1e9
        val got = digestOf(obs.get)
        if (!pins.get(name).contains(got))
          failures += s"$name: ${got._1} rows, hash ${got._2}; pinned ${pins.get(name)}"
      } catch {
        case NonFatal(e) => failures += s"$name failed: $e"
      }
      val e = engine.snapshot(spark.sparkContext) - e0
      // the write's own analysis, optimization and physical planning, as
      // its QueryPlanningTracker recorded them (the listener fired before
      // the snapshot above drained the bus)
      val planS = math.min(writeS, planning.lastSeconds)
      layer ++= Seq(
        s"lane.$name.construct_s" -> constructS,
        s"lane.$name.plan_s" -> planS,
        s"lane.$name.exec_s" -> (writeS - planS),
        s"lane.$name.jobs" -> e.jobs.toDouble,
        s"lane.$name.task_cpu_s" -> e.cpuNs / 1e9,
        s"lane.$name.checkpoints" -> Checkpoints.trackedCount.toDouble)
      System.err.println(f"[perfbench]   $name: construct $constructS%.2f s, " +
        f"write $writeS%.2f s (plan $planS%.2f s), ${e.jobs} jobs")
      val t0 = System.nanoTime()
      quiesce()
      excluded += (System.nanoTime() - t0) / 1e9
    }
    lastLayer = layer.result()
    excluded
  }

  override def check(): Seq[String] = failures.toSeq

  override def ops: (Long, Long) = (Lanes.size.toLong, failures.size.toLong)

  override def layer(): Map[String, Double] = lastLayer

  override def close(): Unit = if (dir != null) LaneData.rmTree(dir)
}

object LanesWorkload {
  /** Lane → the program family whose operators it exercises: one heavy
    * lane per operator family, so that a cold and a warm sweep fit one
    * run. */
  val Lanes: Seq[(String, String)] = Seq(
    "q63_dedup_clusters" -> "operators.Components",
    "q146_containment_dispatch" -> "operators.Dedup",
    "q201_route_threshold_sensitivity" -> "operators.Similarity",
    "q98_bpe_merges" -> "operators.TextAnalysis")

  /** Pins: lane → (row count, hash), set from a run whose outputs the
    * repository's DuckDB oracle check matched (see `--pin` in run.py). */
  val PinsFile = "perfbench/pins.json"

  def pins(): Map[String, (Long, String)] = {
    val root = Stubs.mapper.readTree(Files.readAllBytes(Path.of(PinsFile)))
    root.fields().asScala.map { e =>
      e.getKey -> ((e.getValue.get("rows").asLong(), e.getValue.get("hash").asText()))
    }.toMap
  }

  /** Aggregates giving a lane output's row count and an order-insensitive
    * hash: the sum of per-row xxhash64 values. Floating-point columns are
    * rounded to 6 places first, since summation order can move their last
    * bits. */
  def digestColumns(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x, 6))
        case _ => c
      }
    }
    (count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("hash"))
  }

  def digestOf(m: Map[String, Any]): (Long, String) =
    (m("rows").asInstanceOf[Long],
      Option(m("hash")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString)
        .getOrElse("0"))

  def digest(df: DataFrame): (Long, String) = {
    val (rows, hash) = digestColumns(df)
    val r = df.agg(rows, hash).head()
    digestOf(Map("rows" -> r.getLong(0), "hash" -> r.getDecimal(1)))
  }

  /** Writes each lane's output and the matching oracle SQL in the layout
    * `tools/check_oracle.py` reads, and returns the pins of those outputs. */
  def pinRun(spark: SparkSession, out: Path): String = {
    val data = out.resolve("data")
    LaneData.write(spark, data)
    val verify = out.resolve("verify")
    val sql = Stubs.mapper.createObjectNode()
    val pins = Stubs.mapper.createObjectNode()
    Lanes.foreach { case (name, _) =>
      val df = SparkEntry.queries(name)(spark, data.toString)
      df.write.mode("overwrite").parquet(verify.resolve(name).toString)
      val (rows, hash) = digest(spark.read.parquet(verify.resolve(name).toString))
      pins.putObject(name).put("rows", rows).put("hash", hash)
      sql.put(name, SparkEntry.oracleSql(name))
      Checkpoints.releaseAll(spark)
    }
    Files.writeString(verify.resolve("oracle_sql.json"),
      Stubs.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(sql))
    Stubs.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(pins)
  }
}

/** The lanes' input table, generated from a fixed seed in the shape of the
  * repository's `sf0.01` test data: `documents` are bag-of-words texts over
  * a 30-word vocabulary with about 5 % near duplicates (an earlier text with
  * one word appended) and a few exact duplicates. It is written as one
  * parquet file, the layout `tools/check_oracle.py` reads too.
  */
object LaneData {
  val Docs = 500
  private val Seed = 20240101L
  private val Vocab = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  def documents(): Seq[Row] = {
    val rng = new java.util.SplittableRandom(Seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Docs).map { i =>
      val u = rng.nextDouble()
      val text =
        if (i > 10 && u < 0.004) texts(rng.nextInt(texts.size))
        else if (i > 10 && u < 0.054) texts(rng.nextInt(texts.size)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(rng.nextInt(Langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def write(spark: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    single(spark.createDataFrame(documents().asJava, docSchema), dir, "documents")
  }

  private def single(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    rmTree(tmp)
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}

/** Keeps the planning time of the last query execution that succeeded:
  * analysis, optimization and physical planning as the execution's own
  * `QueryPlanningTracker` measured them. */
final class PlanningListener extends QueryExecutionListener {
  @volatile var lastSeconds = 0.0
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    lastSeconds = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum / 1e3
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
