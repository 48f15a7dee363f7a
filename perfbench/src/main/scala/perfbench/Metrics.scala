package perfbench

/** The per-layer metrics a traced run prints, in order, with their units.
  * Every workload prints all of them; a layer the workload does not use
  * reads 0. `BENCHMARK.json` lists the same names. */
object Metrics {
  private val laneNames = LanesWorkload.Lanes.map(_._1)
  private val families = LanesWorkload.Lanes.map(_._2).distinct

  val PerLayer: Seq[(String, String)] = Seq(
    "source.scan_s" -> "s", "source.requests" -> "count",
    "source.retries" -> "count", "source.items" -> "count",
    "transforms.s" -> "s", "transforms.rows" -> "count",
    "jdbc.write_s" -> "s", "jdbc.rows_written" -> "count",
    "jdbc.sync_s" -> "s", "jdbc.sync_rows_rewritten" -> "count",
    "jdbc.sync_useful_ratio" -> "ratio",
    "merge.insert" -> "count", "merge.update" -> "count",
    "merge.delete" -> "count", "merge.unchanged" -> "count",
    "notion.readback_s" -> "s", "notion.upsert_s" -> "s",
    "notion.requests.post" -> "count", "notion.requests.patch" -> "count",
    "notion.requests.query" -> "count", "notion.changed" -> "count",
    "notion.useful_ratio" -> "ratio", "notion.errors" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.driver_residue_s" -> "s",
    "full.pass_s" -> "s", "full.merge.insert" -> "count",
    "full.notion.requests.post" -> "count",
    "full.jdbc.sync_useful_ratio" -> "ratio",
    "full.notion.useful_ratio" -> "ratio") ++
    laneNames.flatMap { l =>
      Seq(s"lane.$l.construct_s" -> "s", s"lane.$l.plan_s" -> "s",
        s"lane.$l.exec_s" -> "s", s"lane.$l.jobs" -> "count",
        s"lane.$l.checkpoints" -> "count", s"lane.$l.task_cpu_s" -> "s")
    } ++
    families.map(f => s"$f.s" -> "s") ++ Seq(
      "jvm.comp_s" -> "s", "jvm.gc_s" -> "s",
      "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s",
      "trace.overhead_s" -> "s", "ops.failed_ratio" -> "ratio")

  /** `<family>.s`, the summed lane time of one program family. */
  object Family {
    def unapply(s: String): Option[String] =
      families.find(f => s == s"$f.s")
  }
}

/** The result line: exactly `correct`, `attempted`, `failed`, `metrics`. */
object Result {
  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (name, v, unit) =>
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      s""""$name": {"value": $v, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}
