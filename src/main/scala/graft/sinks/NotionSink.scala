package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import graft.sources.bangumi.{RateLimiter, Retry}

/** Property-typed key-value sink modeled on the Notion database API
  * (SURVEY §2.2 K4–K7, §2.9 I3–I4; reference
  * `/root/reference/notion_data_ingestion.py`).
  *
  * The reference's per-row HTTPS POST loop (`iterrows` + one request/row)
  * becomes `foreachPartition` with a pooled client per executor, batched
  * rate-limited writes, per-row error isolation (R4 — failed rows counted,
  * pipeline continues), and `LongAccumulator` success/error counters (A5).
  *
  * The upsert is change-aware. One read-back of the sink (S5) gives, per
  * key, the page id, its `is_active` flag and its stored properties in
  * [[formatProperties]]' string form; it is broadcast to the write tasks
  * instead of a driver-side dict, and each row of the frame is decided
  * against it:
  *  - insert — the key has no page;
  *  - unchanged — the page is active and every formatted property
  *    equals the stored one (and no stored property needs clearing): no
  *    request is sent;
  *  - update — anything else: the row's properties are PATCHed, the
  *    properties null in the row are cleared (a stale value would otherwise
  *    survive Notion's property-wise merge), and the page is re-activated;
  *  - soft delete — an active page whose key left the frame gets
  *    `is_active=false`; pages already inactive are left alone.
  *
  * The comparison is conservative: a stored property the transport cannot
  * read back exactly (unknown type, a number that renders differently, a
  * missing page property for a non-null value) counts as changed and is
  * written. A wrong "unchanged" would lose data; a wrong "changed" costs one
  * request.
  */
object NotionSink {

  /** One page of the read-back: its id, its `is_active` flag and its stored
    * properties in [[formatProperties]]' string form. An absent or empty
    * property has no entry; one the transport cannot read back exactly
    * maps to `None` and never compares equal. */
  case class StoredPage(pageId: String, active: Boolean,
      properties: Map[String, Option[String]])

  /** Transport interface; production = HTTP, tests = [[InMemoryNotionApi]].
    * Implementations must be thread-safe (one instance per executor). */
  trait NotionApi extends Serializable {
    /** K4 prelude: ensure the parent page exists — pass-through when an id
      * is already configured (the reference's `create_page` short-circuit,
      * `notion_data_ingestion.py:48-80`), else create a workspace-parented
      * page carrying only a title and return its id for [[createDatabase]]
      * to hang the database under. */
    def ensureParentPage(existing: Option[String], title: String): String
    /** K4: idempotent DDL — declare the typed property schema. */
    def createDatabase(name: String, properties: Map[String, String]): String
    /** S5: read back every page — key → page id, flag, stored properties. */
    def storedPages(): Map[Long, StoredPage]
    /** S5: the read-back's (subject_id → page_id). */
    def existingRecords(): Map[Long, String] =
      storedPages().map { case (k, p) => k -> p.pageId }
    /** K5: insert one row of typed properties. Throws on failure. */
    def insert(key: Long, properties: Map[String, String]): Unit
    /** Upsert branch: set `properties` on an existing page, empty the
      * `cleared` ones, leave the rest as stored (Notion's PATCH merges
      * property by property), and mark the page active — a returning key
      * leaves its tombstone. */
    def update(pageId: String, properties: Map[String, String],
        cleared: Set[String]): Unit
    /** K6/I3: logical delete — `is_active=false`. */
    def softDelete(pageId: String): Unit
  }

  /** StructType → Notion property-type declaration (K4; reference schema at
    * `notion_data_ingestion.py:106-119`). */
  def propertySchema(schema: StructType, titleCol: String): Map[String, String] =
    schema.fields.map { f =>
      val t = f.dataType match {
        case _ if f.name == titleCol => "title"
        case _: NumericType => "number"
        case BooleanType => "checkbox"
        case TimestampType | DateType => "date"
        case _ => "rich_text"
      }
      f.name -> t
    }.toMap

  /** F11 int/float split (reference `notion_data_ingestion.py:273-278`):
    * an integral float renders as an integer (`5`, not `5.0`). */
  private[sinks] def numString(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** F8/F11/F12: per-value property formatting — text truncated to 2000
    * chars, numbers passed through (integral floats as ints), timestamps
    * ISO-8601. Nulls omitted (P7). */
  def formatProperties(row: Row, schema: StructType): Map[String, String] =
    schema.fields.zipWithIndex.flatMap { case (f, i) =>
      if (row.isNullAt(i)) None
      else {
        val v = f.dataType match {
          case TimestampType =>
            val ts = row.getTimestamp(i).toLocalDateTime
            ts.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
          case DoubleType => numString(row.getDouble(i))
          case FloatType => numString(row.getFloat(i).toDouble)
          case _: NumericType => row.get(i).toString
          case BooleanType => row.get(i).toString
          case _ => row.get(i).toString.take(2000)
        }
        Some(f.name -> v)
      }
    }.toMap

  /** The values of `names`, in order, as one string: each value
    * length-prefixed, an absent one as `-`. Equal strings mean equal
    * values. */
  private def fingerprint(names: Array[String], value: String => Option[String]): String =
    names.map(n => value(n).fold("-")(v => s"${v.length}:$v")).mkString

  /** Per-row outcomes of one [[upsert]]: `updated` counts the PATCHes
    * sent, `unchanged` the existing pages that needed none, `errors` the
    * rows (and tombstones) whose write failed after its retries. */
  case class WriteReport(inserted: Long, updated: Long, softDeleted: Long,
      errors: Long, unchanged: Long = 0L)

  /** Merge-write `df` (keyed by `keyCol`) into the sink: new keys insert,
    * changed pages update, unchanged pages are skipped, and active pages
    * whose key left the frame soft-delete (see the object doc).
    * `minIntervalMs` paces the requests actually sent, per partition (R2:
    * the reference's API budget is ~3 req/s).
    */
  def upsert(
      df: DataFrame,
      keyCol: String,
      api: NotionApi,
      minIntervalMs: Long = 0L): WriteReport = {
    val sc = df.sparkSession.sparkContext
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)

    // S5/J4: the sink snapshot is small relative to the frame — broadcast
    // it, each page condensed to its id, flag and fingerprint (a handful of
    // objects per page, where the property maps would cost dozens to
    // serialize).
    val names = schema.fieldNames
    val stored = api.storedPages()
    val storedBc = sc.broadcast(stored.map { case (k, p) =>
      val unknown = names.exists(n => p.properties.get(n).contains(None))
      k -> ((p.pageId, p.active,
        if (unknown) None else Some(fingerprint(names, n => p.properties.get(n).flatten))))
    })

    val okAcc = sc.longAccumulator("notion.ok")
    val updAcc = sc.longAccumulator("notion.updated")
    val sameAcc = sc.longAccumulator("notion.unchanged")
    val keptAcc = sc.collectionAccumulator[Long]("notion.kept")
    val errAcc = sc.longAccumulator("notion.errors")
    val delAcc = sc.longAccumulator("notion.deleted")
    val delErrAcc = sc.longAccumulator("notion.deleteErrors")

    try {
      df.foreachPartition { rows: Iterator[Row] =>
        val limiter = new RateLimiter(minIntervalMs)
        def send(done: LongAccumulator)(write: => Unit): Unit = {
          limiter.acquire()
          Retry.withBackoff(3, 100L)(write)
          done.add(1)
        }
        rows.foreach { row =>
          try {
            val key = row.getLong(keyIdx)
            val page = storedBc.value.get(key)
            if (page.isDefined) keptAcc.add(key) // before anything can fail
            val props = formatProperties(row, schema)
            page match {
              case None => send(okAcc)(api.insert(key, props))
              case Some((pageId, active, fp)) =>
                if (active && fp.contains(fingerprint(names, props.get)))
                  sameAcc.add(1)
                else send(updAcc)(api.update(pageId, props,
                  names.filterNot(props.contains).toSet))
            }
          } catch {
            case _: Exception => errAcc.add(1) // R4: log-and-continue
          }
        }
      }

      // I3: soft-delete the active pages whose key left the frame. The
      // delete set comes from the read-back the driver already holds, minus
      // the keys the pass above found; the PATCH loop runs in
      // foreachPartition like the insert/update lane, so a mass-deletion
      // sync stays distributed. Pages already inactive are not re-sent.
      // Same R4 envelope: retry, then count-and-continue.
      val kept = keptAcc.value.asScala.toSet
      val gone = stored.collect {
        case (k, p) if p.active && !kept(k) => p.pageId
      }.toSeq
      sc.parallelize(gone).foreachPartition { pageIds: Iterator[String] =>
        val limiter = new RateLimiter(minIntervalMs)
        pageIds.foreach { id =>
          limiter.acquire()
          try {
            Retry.withBackoff(3, 100L)(api.softDelete(id))
            delAcc.add(1)
          } catch { case _: Exception => delErrAcc.add(1) }
        }
      }
    } finally storedBc.destroy()
    WriteReport(okAcc.value, updAcc.value, delAcc.value,
      errAcc.value + delErrAcc.value, sameAcc.value)
  }

  object InMemoryNotionApi {
    // Stores live in JVM statics keyed by store id: Spark serializes the
    // closure-captured api instance per task, and copies must still see one
    // shared store within the local[] JVM (mirrors "HTTP client per
    // executor, remote state shared" topology of the real sink).
    private[sinks] val stores =
      new ConcurrentHashMap[String, ConcurrentHashMap[String, (Long, Map[String, String], Boolean)]]()
    private[sinks] val ids =
      new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  }

  /** In-memory fake for tests (and the offline build): page_id →
    * (key, properties, is_active). `failEveryNth` injects transient R4
    * faults (absorbed by the retry envelope); `failKeys` fails EVERY
    * insert attempt for those keys — a permanent mid-batch outage the
    * retry budget cannot mask, for replay-idempotence tests. */
  class InMemoryNotionApi(
      storeId: String = java.util.UUID.randomUUID().toString,
      failEveryNth: Int = 0,
      failKeys: Set[Long] = Set.empty) extends NotionApi {

    def pages: ConcurrentHashMap[String, (Long, Map[String, String], Boolean)] =
      InMemoryNotionApi.stores.computeIfAbsent(storeId,
        _ => new ConcurrentHashMap())

    private def nextId: Long = InMemoryNotionApi.ids
      .computeIfAbsent(storeId, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()

    private val calls = new java.util.concurrent.atomic.AtomicLong()
    private def maybeFail(): Unit =
      if (failEveryNth > 0 && calls.incrementAndGet() % failEveryNth == 0)
        throw new RuntimeException("injected sink failure")

    override def ensureParentPage(existing: Option[String], title: String): String =
      existing.getOrElse(s"parent-page-$nextId")
    override def createDatabase(name: String, properties: Map[String, String]): String =
      s"db-$name"
    override def storedPages(): Map[Long, StoredPage] =
      pages.asScala.map { case (pid, (k, props, active)) =>
        k -> StoredPage(pid, active, props.map { case (n, v) => n -> Some(v) })
      }.toMap
    override def insert(key: Long, properties: Map[String, String]): Unit = {
      if (failKeys(key))
        throw new RuntimeException(s"injected permanent failure for $key")
      maybeFail()
      pages.put(s"page-$nextId", (key, properties, true))
    }
    override def update(pageId: String, properties: Map[String, String],
        cleared: Set[String]): Unit = {
      maybeFail()
      val cur = pages.get(pageId)
      require(cur != null, s"unknown page $pageId")
      pages.put(pageId, (cur._1, cur._2 -- cleared ++ properties, true))
    }
    override def softDelete(pageId: String): Unit = {
      val cur = pages.get(pageId)
      require(cur != null, s"unknown page $pageId")
      pages.put(pageId, (cur._1, cur._2, false))
    }
  }
}
