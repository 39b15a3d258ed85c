package cdcbench

import scala.collection.mutable

/** The generator's own record of what the program must produce: the
  * last-writer-wins map over every applied event, and the dead-letter
  * disposition of every injected fault.
  */
object Oracle {

  /** Key → index of its last applied event, in log order, with deleted
    * keys removed. `applied(i)` says whether event `i` reaches the state
    * at all (passes the table filter and decodes).
    */
  def lww(n: Int, key: Int => Long, isDelete: Int => Boolean,
          applied: Int => Boolean): mutable.LongMap[Int] = {
    val last = mutable.LongMap.empty[Int]
    for (i <- 0 until n if applied(i)) last(key(i)) = i
    last.filterInPlace { case (_, i) => !isDelete(i) }
  }

  /** Dead-letter disposition the program must give event `j` of `e`, or
    * None when it must reach the state.
    */
  def disposition(e: Events, j: Int): Option[String] = e.kind(j) match {
    case Events.Unparseable => Some("unparseable")
    case Events.Unregistered => Some("unregistered_table")
    case _ => None
  }
}
