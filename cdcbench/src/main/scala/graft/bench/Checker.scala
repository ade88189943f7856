package graft.bench

import scala.collection.mutable

/** Output checker. It walks each target stream in order and lines its
  * entries up with the epochs Spark reported: an epoch whose routed input
  * holds `n` distinct ids for a target owns the next entries of that target
  * until they carry `n` ids, stopping early at an entry none of whose ids
  * the epoch consumed. So the attribution does not depend on how the plane
  * splits an epoch's ids into chunks. A delivery is wrong when
  *   - lost: an event of a completed epoch, or an acked/trimmed event, whose
  *     id never reached a routed target;
  *   - unknown: a target carries an id that was never offered;
  *   - oversized: a chunk holds more than maxBatch ids;
  *   - repeated: an id repeats within one epoch's output for one target;
  *   - misplaced: an id sits in an epoch's output that did not consume it;
  *   - unprimed: a target lacks its leading `[]` priming entry;
  *   - malformed: an entry's `ids` is not a JSON int array.
  */
object Checker {
  final case class Input(
      routes: IndexedSeq[IndexedSeq[Int]],        // per source stream: target indices
      ids: IndexedSeq[IndexedSeq[Int]],           // per source stream: id of entry seq k+1
      epochs: IndexedSeq[(IndexedSeq[Long], IndexedSeq[Long])], // per epoch: (start, end] seq per stream
      entries: IndexedSeq[IndexedSeq[String]],    // per target: `ids` of each entry
      acked: (Int, Long) => Boolean,              // (stream, seq) acked or trimmed
      maxBatch: Int)

  final class Result(val attempted: Long, val counts: Map[String, Long],
                     /** [epoch][target]: id -> index of the entry that carried it */
                     val found: Array[Array[mutable.HashMap[Int, Int]]]) {
    def failed: Long = counts.values.sum
  }

  def parseIds(s: String): Option[Array[Int]] = {
    val t = s.trim
    if (!t.startsWith("[") || !t.endsWith("]")) None
    else if (t == "[]") Some(Array.emptyIntArray)
    else try Some(t.substring(1, t.length - 1).split(',').map(_.trim.toInt))
    catch { case _: NumberFormatException => None }
  }

  def check(in: Input): Result = {
    val nT = in.entries.size
    val offered = mutable.HashSet[Int]()
    in.ids.foreach(offered ++= _)
    val c = mutable.LinkedHashMap[String, Long]("lost" -> 0L, "unknown" -> 0L,
      "oversized" -> 0L, "repeated" -> 0L, "misplaced" -> 0L, "unprimed" -> 0L,
      "malformed" -> 0L)
    def bump(k: String): Unit = c(k) += 1
    val found = Array.fill(in.epochs.size, nT)(mutable.HashMap[Int, Int]())
    val cursor = Array.tabulate(nT) { t =>
      if (in.entries(t).headOption.contains("[]")) 1 else { bump("unprimed"); 0 }
    }
    def chunk(t: Int, idx: Int): Array[Int] = {
      val ids = parseIds(in.entries(t)(idx)).getOrElse { bump("malformed"); Array.emptyIntArray }
      if (ids.length > in.maxBatch) bump("oversized")
      ids
    }

    for (((start, end), e) <- in.epochs.zipWithIndex; t <- 0 until nT) {
      val expected = mutable.LinkedHashSet[Int]()
      for (s <- in.ids.indices if in.routes(s).contains(t); seq <- start(s) + 1 to end(s))
        expected += in.ids(s)((seq - 1).toInt)
      var seen = 0
      var more = expected.nonEmpty
      while (more && seen < expected.size && cursor(t) < in.entries(t).size) {
        val idx = cursor(t)
        val ids = parseIds(in.entries(t)(idx)).getOrElse(Array.emptyIntArray)
        more = ids.isEmpty || ids.exists(expected.contains)
        if (more) {
          chunk(t, idx).foreach { id =>
            seen += 1
            if (!offered.contains(id)) bump("unknown")
            else if (!expected.contains(id)) bump("misplaced")
            else if (found(e)(t).put(id, idx).isDefined) bump("repeated")
          }
          cursor(t) += 1
        }
      }
    }

    // entries after the last reported epoch (a batch cut by the stop)
    val trailing = Array.tabulate(nT) { t =>
      val ids = mutable.HashSet[Int]()
      for (idx <- cursor(t) until in.entries(t).size; id <- chunk(t, idx)) {
        if (!offered.contains(id)) bump("unknown")
        ids += id
      }
      ids
    }

    var attempted = 0L
    val lastEnd = in.epochs.lastOption.map(_._2)
    for (s <- in.ids.indices; k <- in.ids(s).indices) {
      val seq = k + 1L
      val id = in.ids(s)(k)
      val e = in.epochs.indexWhere { case (st, en) => seq > st(s) && seq <= en(s) }
      for (t <- in.routes(s)) {
        attempted += 1
        if (e >= 0) { if (!found(e)(t).contains(id)) bump("lost") }
        else if (lastEnd.forall(seq > _(s)) && in.acked(s, seq) && !trailing(t).contains(id))
          bump("lost")
      }
    }
    new Result(attempted, c.toMap, found)
  }

  /** The checker must flag a planted dropped id and an oversized chunk and
    * pass the matching clean output, however finely it is chunked. Returns
    * the failures it found.
    */
  def selfTest(): Seq[String] = {
    val ids = IndexedSeq(IndexedSeq(1, 2, 3, 4, 5))
    val epochs = IndexedSeq((IndexedSeq(0L), IndexedSeq(3L)), (IndexedSeq(3L), IndexedSeq(5L)))
    def run(entries: IndexedSeq[String]) = check(Input(IndexedSeq(IndexedSeq(0)), ids,
      epochs, IndexedSeq(entries), (_, _) => true, maxBatch = 2)).counts
    val clean = run(IndexedSeq("[]", "[1,2]", "[3]", "[4,5]"))
    val fine = run(IndexedSeq("[]", "[1]", "[3]", "[2]", "[5]", "[4]"))
    val dropped = run(IndexedSeq("[]", "[1,2]", "[3]", "[4]"))
    val droppedEpoch = run(IndexedSeq("[]", "[4,5]"))
    val oversized = run(IndexedSeq("[]", "[1,2,3]", "[4,5]"))
    val unprimed = run(IndexedSeq("[1,2]", "[3]", "[4,5]"))
    Seq(
      "clean output flagged" -> (clean.values.sum == 0),
      "finely chunked clean output flagged" -> (fine.values.sum == 0),
      "planted dropped id not flagged" -> (dropped("lost") == 1),
      "planted dropped epoch not flagged" -> (droppedEpoch("lost") == 3 && droppedEpoch.values.sum == 3),
      "planted oversized chunk not flagged" -> (oversized("oversized") == 1 && oversized("lost") == 0),
      "missing priming entry not flagged" -> (unprimed("unprimed") == 1)
    ).collect { case (msg, false) => msg }
  }
}
