package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.bangumi.BangumiSchemas

/** One collection item as the Bangumi stub serves it. `score` is the
  * subject score the item carries (None where the template's is null). */
final case class Item(id: Long, subjectType: Int, collectionType: Int,
    score: Option[Double], json: String)

/** A delta against a base corpus: items whose score changed, items removed
  * and items added. */
final case class ChangeSet(edited: Seq[Item], removed: Seq[Long], added: Seq[Item]) {
  def apply(base: Seq[Item]): Seq[Item] = {
    val gone = removed.toSet
    val edit = edited.map(i => i.id -> i).toMap
    base.filterNot(i => gone(i.id)).map(i => edit.getOrElse(i.id, i)) ++ added
  }
}

/** Seeded Bangumi corpus built by re-keying the program's bundled fixture
  * (`bangumi/items.jsonl`): every generated item is a copy of a fixture item
  * drawn uniformly, so the fixture's messy shapes keep their proportions —
  * the `not-a-date` timestamp, the malformed tag entries, the blank infobox
  * keys, the all-null subject — while subject ids become unique and items
  * spread evenly over the 12 (subject_type, collection_type) categories
  * the source scans.
  */
object Corpus {

  private lazy val templates: IndexedSeq[ObjectNode] = {
    val in = getClass.getResourceAsStream("/bangumi/items.jsonl")
    require(in != null, "bangumi fixture resource missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.trim.nonEmpty)
      .map(l => Stubs.mapper.readTree(l).asInstanceOf[ObjectNode]).toIndexedSeq
    finally in.close()
  }

  private val grid: IndexedSeq[(Int, Int)] = for {
    st <- BangumiSchemas.subjectTypes.toIndexedSeq
    ct <- BangumiSchemas.collectionTypes
  } yield (st, ct)

  /** First subject id; ids run upward from here, so they never collide with
    * the fixture's own ids. */
  val FirstId = 1000000L

  private def score(rng: java.util.SplittableRandom): Double =
    (10 + rng.nextInt(91)) / 10.0 // 1.0 .. 10.0, one decimal

  private def render(t: ObjectNode, id: Long, st: Int, ct: Int,
      s: Option[Double]): Item = {
    val n = t.deepCopy()
    n.put("subject_id", id).put("subject_type", st).put("type", ct)
    val subj = n.get("subject").asInstanceOf[ObjectNode]
    subj.put("id", id).put("type", st)
    s match {
      case Some(v) => subj.put("score", v)
      case None => subj.putNull("score")
    }
    if (subj.hasNonNull("name")) subj.put("name", s"${subj.get("name").asText()} #$id")
    Item(id, st, ct, s, Stubs.mapper.writeValueAsString(n))
  }

  private def fresh(rng: java.util.SplittableRandom, id: Long): Item = {
    val t = templates(rng.nextInt(templates.size))
    val (st, ct) = grid(rng.nextInt(grid.size))
    val s = if (t.path("subject").path("score").isNumber) Some(score(rng)) else None
    render(t, id, st, ct, s)
  }

  /** `n` items with ids FirstId until FirstId + n. */
  def base(seed: Long, n: Int): IndexedSeq[Item] = {
    val rng = new java.util.SplittableRandom(seed)
    (0 until n).map(i => fresh(rng, FirstId + i))
  }

  /** The per-run change set: about 1 % of the items get a different score,
    * 0.5 % are removed and as many new ones added, so the table and sink
    * keep N items. Edited and removed items are disjoint. */
  def changes(seed: Long, base: IndexedSeq[Item]): ChangeSet = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val n = base.size
    val nEdit = math.max(1, n / 100)
    val nMove = math.max(1, n / 200)
    // partial Fisher-Yates: the first nEdit + nMove slots are a uniform
    // sample without replacement
    val idx = Array.range(0, n)
    (0 until nEdit + nMove).foreach { i =>
      val j = i + rng.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    val edited = idx.take(nEdit).toSeq.map { k =>
      val old = base(k)
      var s = score(rng)
      while (old.score.contains(s)) s = score(rng)
      val t = Stubs.mapper.readTree(old.json).asInstanceOf[ObjectNode]
      t.get("subject").asInstanceOf[ObjectNode].put("score", s)
      old.copy(score = Some(s), json = Stubs.mapper.writeValueAsString(t))
    }
    val removed = idx.slice(nEdit, nEdit + nMove).toSeq.map(base(_).id)
    val top = base.map(_.id).max
    val added = (1 to nMove).map(i => fresh(rng, top + i))
    ChangeSet(edited, removed, added)
  }

  /** How many items of each fixture shape a corpus holds, for the log. */
  def shapes(items: Seq[Item]): Map[String, Int] = Map(
    "not_a_date" -> items.count(_.json.contains("\"not-a-date\"")),
    "malformed_tags" -> items.count(_.json.contains("\"oops\"")),
    "blank_infobox_key" -> items.count(_.json.contains("\"key\":\"  \"")),
    "null_score" -> items.count(_.score.isEmpty))

  /** Per subject id, the fields the Derby check compares. */
  def expected(items: Seq[Item]): Map[Long, (Int, Int, Option[Double])] =
    items.map(i => i.id -> ((i.subjectType, i.collectionType, i.score))).toMap

  def ids(items: Seq[Item]): Set[Long] = items.iterator.map(_.id).toSet
}
