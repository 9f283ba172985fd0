package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Opt-in fail-loudly guards for operators whose cost model makes a
  * misrouted input expensive instead of wrong — the same convention
  * as EmaAggregate's buffer cap and emaStream's maxKeys: declared
  * semantics stay available, but a configurable ceiling turns a
  * surprise O(n²) job into an immediate, named error.
  *
  * Enforcement is IN-PLAN, not an eager pre-pass: the guard rides the
  * operator's own action (zero extra Spark jobs, zero cost at
  * operator-build time), and the violation surfaces as a
  * `raise_error` naming the quadratic semantics the moment the first
  * over-cap row is seen — before the pair space is swept. The
  * guarded frame is lazy like every other operator output, so the
  * error arrives at ACTION time wrapped in Spark's task-failure
  * exception (walk `getCause` for the message), not at build time —
  * the price of making the enabled guard free.
  */
object Guards {

  /** Session conf capping the key cardinality of the quadratic-by-
    * design pair sweeps (correlationMatrix, cosineNearDupPairs,
    * ngramJaccardPairs). Unset (the default) leaves the contract
    * documented but unenforced, matching the other graft guards.
    */
  val PairSweepMaxKeys = "graft.pairSweep.maxKeys"

  private def capOf(df: DataFrame): Option[Long] =
    df.sparkSession.conf.getOption(PairSweepMaxKeys).map(numericConf(PairSweepMaxKeys, _)(_.toLong))

  /** Parse the value `raw` of the numeric guard conf `key`, naming both when it is not a number. */
  def numericConf[T](key: String, raw: String)(parse: String => T): T =
    try parse(raw) catch {
      case _: NumberFormatException => throw new IllegalArgumentException(s"$key must be a whole number, got '$raw'")
    }

  /** Guard a pair sweep on TOTAL key count: `downstream` (the frame
    * feeding the quadratic self-join) passes through unchanged when
    * the conf is unset; when set, a 1-row count of `perKey` (one row
    * per key) rides the plan as a broadcast and every downstream row
    * is filtered through a raise_error check against it. The count
    * subtree is column-pruned to the key column and executes INSIDE
    * the operator's own action — no extra job, and the sweep cannot
    * emit a row until the check has passed, so an over-cap universe
    * dies on its first block instead of running O(keys²).
    */
  def withPairKeyCap(downstream: DataFrame, perKey: DataFrame, op: String,
                     defaultCap: Option[Long] = None): DataFrame =
    capOf(downstream).orElse(defaultCap) match {
      case None => downstream
      case Some(cap) =>
        // when the session conf is set it WINS over any operator
        // default (capOf first) — callers who sized their panel keep
        // full control; the default exists so a 100x caller cannot
        // reach the O(keys^2) cliff without an explicit opt-in
        val src =
          if (capOf(downstream).isDefined) s"$PairSweepMaxKeys=$cap"
          else s"the operator's default cap of $cap (override with $PairSweepMaxKeys or exact=true)"
        val nk = perKey.agg(count(lit(1)).as("_graft_nk"))
        downstream
          .crossJoin(broadcast(nk))
          .filter(
            when(col("_graft_nk") <= cap, lit(true)).otherwise(
              raise_error(concat(
                lit(s"$op is O(keys^2) by declared semantics and its key universe holds "),
                col("_graft_nk"),
                lit(s" keys, exceeding $src: this looks like an open-ended " +
                  "key stream routed into a bounded-panel operator. Use the LSH/banded " +
                  s"candidate paths for unbounded universes, or raise/unset the cap")))
                .cast("boolean")))
          .drop("_graft_nk")
    }

  /** The bucketed-sweep variant of [[withPairKeyCap]]: for operators
    * whose pair space is per-BUCKET quadratic (ivfNearDupPairs'
    * cells), the quadratic dimension is the largest bucket's
    * occupancy — a degenerate quantizer that drops the corpus into
    * one cell silently reverts to the full sweep. This guard is
    * completely FREE: the dense per-cell block index already encodes
    * occupancy (a cell's block `blk` holding `sz` vectors proves the
    * cell has exactly blk*blockSize + sz members up to that block),
    * so the check is a per-row comparison on the blocks frame — no
    * counting subtree at all, and it fires iff some cell's occupancy
    * exceeds the cap. `blocks` must carry (blk, vs) as built by the
    * dense row_number blocking. Same opt-in conf; an empty corpus
    * trivially passes (no rows, no violation — nothing to guard).
    */
  def withCellOccupancyCap(blocks: DataFrame, blockSize: Int, op: String): DataFrame =
    capOf(blocks) match {
      case None => blocks
      case Some(cap) =>
        val occUpTo = col("blk") * blockSize + size(col("vs"))
        blocks.filter(
          when(occUpTo <= cap, lit(true)).otherwise(
            raise_error(concat(
              lit(s"$op is O(occupancy^2) per cell and a cell holds at least "),
              occUpTo,
              lit(s" vectors, exceeding $PairSweepMaxKeys=$cap: the quantizer is not " +
                "spreading the corpus (degenerate centroids, or nlist far too small for " +
                s"this corpus). Retrain with more cells, or raise/unset $PairSweepMaxKeys")))
              .cast("boolean")))
    }
}
