package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.{DataFrame, Row}

/** Route by size: the one place an operator chooses between its
  * bounded branch (driver-resident rounds over collected rows, or a
  * broadcast join side) and its corpus-scale branch (distributed
  * rounds, or a shuffled join). The threshold is a constant the
  * operator owns, next to the code it sizes (README "Routes" lists
  * them with the driver heap each allows). Both branches of every key
  * give the same answer; a path-law spec forces each side on one input
  * and compares. */
object Route {
  sealed trait Side
  /** Within the threshold: collected to the driver, or broadcast. */
  case object Small extends Side
  /** Past it: the distributed rounds, or the shuffled join. */
  case object Large extends Side

  private val forced = ThreadLocal.withInitial[Map[String, Side]](() => Map.empty)
  private val counts = new ConcurrentHashMap[(String, Side), LongAdder]()

  private def record(key: String, side: Side): Unit =
    counts.computeIfAbsent((key, side), _ => new LongAdder).increment()

  /** All rows of `df` when it has at most `max`, else None. One
    * `limit(max + 1)` job, which is also the collect the driver branch
    * needs, so a small input costs no extra job. */
  def collectUpTo(key: String, df: DataFrame, max: Int): Option[Array[Row]] = {
    val rows = forced.get.get(key) match {
      case Some(Small) => Some(df.collect())
      case Some(Large) => None
      case None => Some(df.limit(max + 1).collect()).filter(_.length <= max)
    }
    record(key, if (rows.isDefined) Small else Large)
    rows
  }

  /** Whether a side of `n` rows stays within `max` (a broadcast gate). */
  def fits(key: String, n: Long, max: Long): Boolean = {
    val small = forced.get.get(key).fold(n <= max)(_ == Small)
    record(key, if (small) Small else Large)
    small
  }

  /** Runs `body` with every `key` decision on the calling thread taken
    * on `side`, whatever the size. For specs that compare the sides. */
  private[graft] def forcing[T](key: String, side: Side)(body: => T): T = {
    val prev = forced.get
    forced.set(prev + (key -> side))
    try body finally forced.set(prev)
  }

  /** Decisions made for `key` so far in this JVM, per side. */
  private[graft] def taken(key: String): Map[Side, Long] =
    Seq(Small, Large).map { s =>
      s -> Option(counts.get((key, s))).fold(0L)(_.sum)
    }.toMap
}
