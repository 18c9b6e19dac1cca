package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** As-of join (SURVEY §2.B.3): for each left row, the latest right row
  * whose timestamp is <= the left timestamp, within a key group.
  *
  * Formulated as an equi-join on the key (hash-shuffled, never a
  * nested-loop) with the time bound as a residual condition, followed by
  * a `max_by` hash aggregation over the left row identity. Both stages
  * are partial/final-aggregating shuffles on bounded key groups, so the
  * plan scales linearly; per-key density (orders per user) bounds the
  * join fan-out, not table size.
  */
object AsOfJoin {

  /** Left as-of join.
    *
    * REQUIRES `leftId` to be unique per left row: the narrow-projection
    * rewrite groups by leftId alone and re-joins the remaining left
    * columns 1:1 on it, so duplicate ids would merge distinct rows'
    * as-of picks and fan out the final join. Callers with a non-unique
    * natural key must synthesize one (e.g. monotonically_increasing_id
    * on a checkpointed input). AsOfJoinSpec asserts the contract.
    *
    * @param leftId   unique left row key (group identity after the join)
    * @param pickCols right columns to carry (null when no match)
    * @param tieBreak right column making the max_by pick deterministic
    *                 when right timestamps tie — a NON-NEGATIVE
    *                 integral column (it packs into the aggregation
    *                 ordering's low half, see below)
    */
  def latestBefore(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      leftId: String, pickCols: Seq[String],
      tieBreak: String): DataFrame = {
    import graft.functions.VectorExpressions.pack_ord
    import org.apache.spark.sql.types._
    // the (rightTs, tieBreak) ordering packs into one decimal so every
    // pick's max_by buffer is UnsafeRow-mutable and the aggregate stays
    // a HashAggregate — the former struct ordering demoted it to a
    // SortAggregate, a per-task sort of the full |left|·fanout join
    // output. Timestamps enter as exact epoch micros, dates as epoch
    // days; unmatched rows' all-null ordering keeps returning all-null
    // picks (a matched group never contains a null-ordering row under
    // left_outer). Any other type would need a cast that can null out
    // or truncate the ordering, so it is rejected.
    val tsAsLong = right.schema(rightTs).dataType match {
      // NTZ routes through an instant cast — exact and monotone under
      // the engine-wide pinned UTC session zone
      case TimestampType | TimestampNTZType =>
        unix_micros(right(rightTs).cast(TimestampType))
      case DateType => unix_date(right(rightTs)).cast(LongType)
      case ByteType | ShortType | IntegerType | LongType => right(rightTs).cast(LongType)
      case other => throw new IllegalArgumentException(
        s"latestBefore: rightTs column '$rightTs' has type ${other.simpleString}; " +
          "expected a timestamp, date or integral type")
    }
    // only (id, key, ts) rides through the fan-out join + aggregate;
    // grouping by every left column would shuffle full-width rows
    // multiplied by the per-key join fan-out. The remaining left columns
    // re-join 1:1 on the unique id afterwards — one extra narrow shuffle
    // of |left| rows instead of a wide shuffle of |left|·fanout rows.
    val probe = left.select(leftId, leftKey, leftTs)
    val joined = probe.join(
      right,
      probe(leftKey) === right(rightKey) && right(rightTs) <= probe(leftTs),
      "left_outer")
    val ord = pack_ord(tsAsLong, right(tieBreak))
    val picks = pickCols.map(c => max_by(right(c), ord).as(c))
    val picked = joined.groupBy(probe(leftId)).agg(picks.head, picks.tail: _*)
    left.join(picked, Seq(leftId), "left_outer")
  }
}
