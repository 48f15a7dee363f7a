package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.NotionSink
import graft.sinks.NotionSink.InMemoryNotionApi

/** Rate-limited typed upsert sink: insert/update/soft-delete lanes, per-row
  * error isolation, property formatting (SURVEY §2.2, §2.9 I3–I4). */
class NotionSinkSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  import scala.jdk.CollectionConverters._

  private def frame(rows: (Long, String, Double)*) =
    rows.toDF("subject_id", "name_cn", "score")

  test("fresh sink: everything inserts; properties are typed-formatted") {
    val api = new InMemoryNotionApi("t-insert")
    val report = NotionSink.upsert(
      frame((1L, "孤独摇滚！", 8.1), (2L, "x" * 3000, 9.0)),
      "subject_id", api)
    assert(report === NotionSink.WriteReport(2, 0, 0, 0))
    val pages = api.pages.asScala.values.toSeq
    assert(pages.map(_._1).toSet === Set(1L, 2L))
    val long = pages.find(_._1 == 2L).get._2
    assert(long("name_cn").length === 2000) // F8 truncation
    assert(long("score") === "9") // F11: integral float renders as int
    val frac = pages.find(_._1 == 1L).get._2
    assert(frac("score") === "8.1") // non-integral keeps the fraction
  }

  test("second sync: existing keys update, missing keys soft-delete") {
    val api = new InMemoryNotionApi("t-upsert")
    NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)),
      "subject_id", api)
    val report = NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b2", 5.0)),
      "subject_id", api)
    assert(report.updated === 1 && report.unchanged === 1)
    assert(report.softDeleted === 1)
    val byKey = api.pages.asScala.values.map(p => p._1 -> p).toMap
    assert(byKey(2L)._2("name_cn") === "b2")
    assert(byKey(3L)._3 === false) // tombstoned, not removed
  }

  test("per-row failures are isolated and counted (R4)") {
    val api = new InMemoryNotionApi("t-errors", failEveryNth = 4)
    // failEveryNth=4 with 3 retries: a row whose every attempt window hits
    // the 4th-call boundary can still fail; others succeed
    val report = NotionSink.upsert(
      frame((1 to 8).map(i => (i.toLong, s"r$i", i.toDouble)): _*),
      "subject_id", api)
    assert(report.inserted + report.errors === 8)
    assert(report.inserted >= 6) // retries absorb most injected faults
  }

  test("a batch killed mid-flight replays idempotently (exactly-once-ish upsert)") {
    // run 1: keys 4 and 9 fail EVERY attempt — beyond the retry budget,
    // i.e. the batch dies partially written, like a crash mid-flight
    val run1Api = new InMemoryNotionApi("t-replay", failKeys = Set(4L, 9L))
    val df = frame((1 to 10).map(i => (i.toLong, s"r$i", i.toDouble)): _*)
    val r1 = NotionSink.upsert(df, "subject_id", run1Api)
    assert(r1.inserted === 8 && r1.errors === 2)
    // replay the SAME batch on a healthy transport against the same store:
    // the upsert keys must dedupe — previously-written rows match the
    // fresh read-back snapshot and are skipped, only the missing two insert
    val run2Api = new InMemoryNotionApi("t-replay")
    val r2 = NotionSink.upsert(df, "subject_id", run2Api)
    assert(r2 === NotionSink.WriteReport(2, 0, 0, 0, 8))
    // exactly one active page per key — the replay created no duplicates
    val byKey = run2Api.pages.asScala.values.groupBy(_._1)
    assert(byKey.keySet === (1L to 10L).toSet)
    assert(byKey.values.forall(ps => ps.size === 1 && ps.head._3))
    // and a THIRD replay is a pure no-op: every page already matches
    val r3 = NotionSink.upsert(df, "subject_id",
      new InMemoryNotionApi("t-replay"))
    assert(r3 === NotionSink.WriteReport(0, 0, 0, 0, 10))
  }

  test("mass-deletion sync stays distributed and counts every tombstone") {
    val api = new InMemoryNotionApi("t-mass-delete")
    NotionSink.upsert(
      frame((1L to 5000L).map(i => (i, s"r$i", i.toDouble)): _*),
      "subject_id", api)
    // second sync keeps only 10 keys → 4990 soft deletes, run in
    // foreachPartition (no driver-side materialization of the delete set)
    val report = NotionSink.upsert(
      frame((1L to 10L).map(i => (i, s"r$i", i.toDouble)): _*),
      "subject_id", api)
    assert(report === NotionSink.WriteReport(0, 0, 4990, 0, 10))
    val active = api.pages.asScala.values.count(_._3)
    assert(active === 10)
  }

  test("a delta sync leaves the same pages as PATCHing every existing key") {
    // the always-PATCH path: a read-back whose stored properties are all
    // unreadable, so every existing key compares changed and is updated
    class AlwaysPatch(storeId: String) extends InMemoryNotionApi(storeId) {
      override def storedPages(): Map[Long, NotionSink.StoredPage] =
        super.storedPages().map { case (k, p) =>
          k -> p.copy(properties = p.properties.map { case (n, _) => n -> None })
        }
    }
    def rows(ks: Seq[Long], score: Long => Option[Double],
        named: Long => Boolean = _ => true) =
      ks.map(k => (k, Option(s"n$k").filter(_ => named(k)), score(k)))
        .toDF("subject_id", "name_cn", "score")
    val base = rows(1L to 60L, k => Some(k.toDouble))
    // edited scores, scores and names that become null, removals (46–50)
    val delta1 = rows((1L to 45L) ++ (51L to 60L),
      k => if (k % 10 == 3) None else Some(if (k % 5 == 0) k + 0.5 else k.toDouble),
      k => k % 7 != 0)
    // the nulls filled again, removed keys back (46–50), more removals
    // (41–45) and additions (61–65)
    val delta2 = rows((1L to 40L) ++ (46L to 65L), k => Some(k.toDouble))
    def state(api: InMemoryNotionApi) =
      api.pages.asScala.values.map(p => p._1 -> (p._2, p._3)).toMap
    val aware = new InMemoryNotionApi("t-equiv-aware")
    val always = new AlwaysPatch("t-equiv-always")
    for (df <- Seq(base, delta1, delta2)) {
      val a = NotionSink.upsert(df, "subject_id", aware)
      val b = NotionSink.upsert(df, "subject_id", always)
      assert(a.errors === 0 && b.errors === 0)
      assert(a.inserted === b.inserted && a.softDeleted === b.softDeleted)
      assert(a.updated + a.unchanged === b.updated && b.unchanged === 0)
      assert(state(aware) === state(always))
    }
    val last = NotionSink.upsert(delta2, "subject_id", aware)
    assert(last === NotionSink.WriteReport(0, 0, 0, 0, 60))
  }

  test("property schema declaration maps Spark types to Notion types") {
    val df = frame((1L, "a", 1.0))
    val props = NotionSink.propertySchema(df.schema, "subject_id")
    assert(props === Map("subject_id" -> "title", "name_cn" -> "rich_text",
      "score" -> "number"))
  }
}
