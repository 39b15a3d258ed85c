package graft.model

/** Binlog position algebra: file+offset positions and GTID sets.
  *
  * The reference models positions as `GTIDPosition(gtidSet) |
  * FilePosition(file, offset)` (reference: model/BinlogPosition.scala:7-66)
  * but its GTID comparison is a plain string compare (`:19-20`, a
  * documented wart — "1-9" > "1-10" lexically) and a second stringly
  * comparator exists in snapshot/CatchupProcessor.scala:380-383. This is
  * the correct set-algebra replacement (SURVEY.md §7.3: "custom pure
  * function — the reference's is wrong anyway").
  *
  * A GTID set is `uuid:range[:range...][,uuid:...]` where range is
  * `a-b` or a single `a` (inclusive, 1-based, per the MySQL format).
  * GTID sets form a partial order under ⊆ — `compare` returns None for
  * incomparable sets (each contains transactions the other lacks),
  * which is exactly the case the reference's string compare silently
  * gets wrong.
  */
object LogPosition {

  final case class FilePosition(file: String, offset: Long) extends Ordered[FilePosition] {
    /** Binlog files rotate with numeric suffixes (binlog.000001 …):
      * order by numeric suffix, then offset.
      */
    def compare(that: FilePosition): Int = {
      val c = FilePosition.fileIndex(file).compare(FilePosition.fileIndex(that.file))
      if (c != 0) c else offset.compare(that.offset)
    }
    override def toString = s"$file:$offset"
  }

  object FilePosition {
    private[model] def fileIndex(f: String): Long = {
      val i = f.lastIndexOf('.')
      if (i >= 0 && i < f.length - 1 && f.substring(i + 1).forall(_.isDigit))
        f.substring(i + 1).toLong
      else 0L
    }
    def parse(s: String): FilePosition = {
      val i = s.lastIndexOf(':')
      require(i > 0, s"bad file position: $s")
      FilePosition(s.substring(0, i), s.substring(i + 1).toLong)
    }
  }

  /** Immutable interval set per source uuid; intervals kept sorted,
    * disjoint, and coalesced.
    */
  final case class GtidSet(intervals: Map[String, Vector[(Long, Long)]]) {

    def contains(uuid: String, txn: Long): Boolean =
      intervals.getOrElse(uuid, Vector.empty).exists { case (a, b) => a <= txn && txn <= b }

    def isSubsetOf(other: GtidSet): Boolean =
      intervals.forall { case (uuid, ivs) =>
        val os = other.intervals.getOrElse(uuid, Vector.empty)
        ivs.forall { case (a, b) => os.exists { case (oa, ob) => oa <= a && b <= ob } }
      }

    /** Partial order: Some(-1/0/1) when comparable, None otherwise. */
    def compare(other: GtidSet): Option[Int] =
      (isSubsetOf(other), other.isSubsetOf(this)) match {
        case (true, true) => Some(0)
        case (true, false) => Some(-1)
        case (false, true) => Some(1)
        case _ => None
      }

    def union(other: GtidSet): GtidSet = {
      val keys = intervals.keySet ++ other.intervals.keySet
      GtidSet(keys.map { k =>
        k -> GtidSet.coalesce(
          intervals.getOrElse(k, Vector.empty) ++ other.intervals.getOrElse(k, Vector.empty))
      }.toMap)
    }

    /** Transactions in `this` but not `other` — the replication gap the
      * catchup phase must replay.
      */
    def subtract(other: GtidSet): GtidSet =
      GtidSet(intervals.map { case (uuid, ivs) =>
        val os = other.intervals.getOrElse(uuid, Vector.empty)
        uuid -> ivs.flatMap { iv => GtidSet.subtractOne(iv, os) }
      }.filter(_._2.nonEmpty))

    /** `this ∪ {uuid:txn}`. A txn at or past the end of its uuid's last
      * interval — a log read in order — extends or appends to that interval
      * in place, so a run of consecutive txns costs no `union`. */
    def add(uuid: String, txn: Long): GtidSet = {
      val ivs = intervals.getOrElse(uuid, Vector.empty)
      if (ivs.isEmpty) GtidSet(intervals.updated(uuid, Vector((txn, txn))))
      else {
        val (a, b) = ivs.last
        if (txn > b) GtidSet(intervals.updated(uuid,
          if (txn == b + 1) ivs.updated(ivs.length - 1, (a, txn)) else ivs :+ ((txn, txn))))
        else if (txn >= a) this
        else union(GtidSet(Map(uuid -> Vector((txn, txn)))))
      }
    }

    def txnCount: Long = intervals.valuesIterator.flatten.map { case (a, b) => b - a + 1 }.sum

    override def toString: String =
      intervals.toSeq.sortBy(_._1).map { case (uuid, ivs) =>
        uuid + ":" + ivs.map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }.mkString(":")
      }.mkString(",")
  }

  object GtidSet {
    val empty: GtidSet = GtidSet(Map.empty)

    def parse(s: String): GtidSet =
      if (s.trim.isEmpty) empty
      else GtidSet(s.split(",").map(_.trim).filter(_.nonEmpty).map { part =>
        val bits = part.split(":")
        require(bits.length >= 2, s"bad gtid set component: $part")
        val ivs = bits.tail.toVector.map { r =>
          r.split("-") match {
            case Array(a) => (a.toLong, a.toLong)
            case Array(a, b) => (a.toLong, b.toLong)
            case _ => throw new IllegalArgumentException(s"bad interval: $r")
          }
        }
        bits.head -> coalesce(ivs)
      }.toMap)

    private[model] def coalesce(ivs: Vector[(Long, Long)]): Vector[(Long, Long)] =
      ivs.sorted.foldLeft(Vector.empty[(Long, Long)]) {
        case (acc :+ ((a, b)), (c, d)) if c <= b + 1 => acc :+ (a, math.max(b, d))
        case (acc, iv) => acc :+ iv
      }

    private[model] def subtractOne(iv: (Long, Long), subtrahend: Vector[(Long, Long)]): Vector[(Long, Long)] =
      subtrahend.foldLeft(Vector(iv)) { (pieces, s) =>
        pieces.flatMap { case (a, b) =>
          val (sa, sb) = s
          if (sb < a || sa > b) Vector((a, b)) // disjoint
          else {
            val left = if (sa > a) Vector((a, sa - 1)) else Vector.empty
            val right = if (sb < b) Vector((sb + 1, b)) else Vector.empty
            left ++ right
          }
        }
      }
  }
}
