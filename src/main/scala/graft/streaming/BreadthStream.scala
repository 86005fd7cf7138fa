package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming re-expression of the reference's stateful breadth
  * accumulator (`BreadthAccumulator.addDay`, market-breadth.ts:121-275):
  * daily bars stream in event-time order per entity; per-key state carries
  * the previous close (and could carry the year-high/low ring buffer the
  * same way); each update emits the entity's daily direction, which a
  * downstream windowed aggregation turns into advancers/decliners counts.
  *
  * This is the optional incremental mode of SURVEY §2.9 — the batch windows
  * in [[graft.queries.AnalyticsQueries.q19Breadth]] stay the source of
  * truth; this demonstrates `flatMapGroupsWithState` for when the feed is a
  * stream. State is O(1) per key (bounded), watermarking bounds retention.
  */
object BreadthStream {

  final case class Tick(userId: Long, day: java.sql.Date, close: Double)
  final case class Direction(userId: Long, day: java.sql.Date,
                             close: Double, dir: Int)
  final case class PrevClose(close: Double)

  /** Per-key stateful pass: emit -1/0/+1 direction vs the previous
    * observed close; first observation emits dir=0 rows with no previous. */
  def directions(ticks: Dataset[Tick]): Dataset[Direction] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.userId)
      .flatMapGroupsWithState[PrevClose, Direction](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Tick], state: GroupState[PrevClose]) =>
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var prev = state.getOption
          val out = sorted.map { t =>
            val dir = prev match {
              case Some(PrevClose(p)) =>
                if (t.close > p) 1 else if (t.close < p) -1 else 0
              case None => 0
            }
            prev = Some(PrevClose(t.close))
            Direction(userId, t.day, t.close, dir)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Batch-equivalence helper for tests: run the same state machine over a
    * static Dataset via the batch groupByKey path. */
  def directionsBatch(ticks: Dataset[Tick]): Dataset[Direction] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.userId).flatMapGroups { (userId, it) =>
      var prev: Option[Double] = None
      it.toSeq.sortBy(_.day.getTime).map { t =>
        val dir = prev match {
          case Some(p) => if (t.close > p) 1 else if (t.close < p) -1 else 0
          case None => 0
        }
        prev = Some(t.close)
        Direction(userId, t.day, t.close, dir)
      }.iterator
    }
  }
}
