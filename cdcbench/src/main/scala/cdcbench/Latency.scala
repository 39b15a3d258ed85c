package cdcbench

import graft.model.LogPosition.GtidSet

/** Apply latency from committed frontiers.
  *
  * Every event carries a sequence number (its log position, which is also
  * its GTID transaction number on the binlog leg). A trigger commits a
  * frontier: the set of sequence numbers its `endOffset` covers. The
  * benchmark reduces a frontier to its covered prefix — the largest `s`
  * such that every sequence number in `1..s` is covered — so an event is
  * committed by the first trigger, in commit order, whose prefix reaches
  * it. Latency is that trigger's end minus the event's due time at the
  * generator. Trigger durations are never used as latency.
  */
object Latency {

  /** One committed trigger: its end (progress `timestamp` +
    * `durationMs.triggerExecution`, epoch ms) and the covered prefix of
    * its `endOffset`.
    */
  final case class Commit(endMs: Double, prefix: Long)

  /** Covered prefix of one source uuid in a GTID frontier: the end of the
    * interval that starts at transaction 1, or 0 when none does.
    */
  def gtidPrefix(frontier: String, uuid: String): Long =
    GtidSet.parse(frontier.trim.stripPrefix("\"").stripSuffix("\"")).intervals
      .getOrElse(uuid, Vector.empty).headOption
      .collect { case (1L, b) => b }.getOrElse(0L)

  /** Covered prefix of a JDBC position frontier (`pos` of the last row read). */
  def posPrefix(frontier: String): Long =
    frontier.trim.stripPrefix("\"").stripSuffix("\"").toLong

  /** Commit time of each event with sequence number `firstSeq + i`;
    * `NaN` for an event no commit covers. Commits may arrive in any order.
    */
  def commitTimes(firstSeq: Long, n: Int, commits: Seq[Commit]): Array[Double] = {
    val out = Array.fill(n)(Double.NaN)
    var next = 0 // first event not yet attributed
    commits.sortBy(_.endMs).foreach { c =>
      val upto = math.min(n.toLong, c.prefix - firstSeq + 1).toInt
      while (next < upto) { out(next) = c.endMs; next += 1 }
    }
    out
  }

  /** Nearest-rank percentile (`p` in (0, 1]) of `xs`; NaN when empty. */
  def percentile(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
}
