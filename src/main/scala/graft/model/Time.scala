package graft.model

import java.sql.Timestamp

/** Instant conversions shared by every operator that turns a query
  * bound into epoch microseconds.
  */
object Time {

  /** Epoch microseconds of `ts`, exact to the microsecond. `getTime` is
    * milliseconds only — the sub-millisecond part lives in `getNanos` —
    * so `getTime * 1000` would move a bound like `x.000999` back to
    * `x.000`. `floorDiv` keeps pre-epoch instants exact.
    */
  def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
}
