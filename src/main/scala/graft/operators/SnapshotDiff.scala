package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Snapshot diff — change-data capture between two versions of a keyed
 * table (the "what changed between yesterday's corpus and today's"
 * question every incremental pipeline asks before reprocessing):
 * one full-outer equi-join on the key, null-safe column comparison for
 * the payload, and a four-way status (`added` / `removed` / `changed` /
 * `same`). At scale this is ONE key-partitioned shuffle of each side —
 * snapshots bucketed on the key (Spark's `bucketBy`) join with no
 * exchange at all, which is how a daily diff over a 100 TB table stays
 * an I/O-bound scan.
 *
 * Comparison is per-column null-safe equality (`<=>`), not an engine
 * hash — NULL == NULL counts as unchanged, NULL vs value as changed,
 * and the semantics replay in any engine (the DuckDB oracle runs the
 * identical predicate).
 */
object SnapshotDiff {

  /** Row status per key: left = old snapshot, right = new snapshot.
    * Output: key columns + `diff_status`. Compared columns are
    * `compareCols` if given, else every non-key column present in BOTH
    * snapshots. */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String] = Seq.empty): DataFrame = {
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else oldSnap.columns.filterNot(keyCols.contains)
        .filter(newSnap.columns.contains).toSeq
    // plain (not null-safe) key equality: a null-key row never matches
    // anything, so it classifies as removed (old side) / added (new
    // side). Presence is detected via non-nullable MARKER columns —
    // key nullability cannot distinguish "row with a null key" from
    // "no row on this side of the outer join".
    val a = oldSnap.select((keyCols ++ cmp).map(col): _*)
      .withColumn("__in_a", lit(true)).alias("a")
    val b = newSnap.select((keyCols ++ cmp).map(col): _*)
      .withColumn("__in_b", lit(true)).alias("b")
    val joinCond = keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val inA = col("a.__in_a").isNotNull
    val inB = col("b.__in_b").isNotNull
    val unchanged: Column =
      if (cmp.isEmpty) lit(true)
      else cmp.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
    a.join(b, joinCond, "full_outer")
      .withColumn("diff_status",
        when(!inA, "added")
          .when(!inB, "removed")
          .when(unchanged, "same")
          .otherwise("changed"))
      .select(keyCols.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) :+
        col("diff_status"): _*)
  }

  /**
   * Streaming CDC: classify rows of an ARRIVING snapshot stream
   * against a pinned old snapshot — `added` / `changed` / `same` per
   * micro-batch via a STATELESS stream-static left join (each arriving
   * key looks up the old side; no watermark, no state store).
   * `removed` is structurally a batch question (a key's absence is
   * only knowable once the new snapshot is complete), so it stays with
   * [[diff]] — run it once at stream end if removals matter. Works on
   * batch inputs too (same plan), which is what the differential test
   * exploits.
   */
  def diffStream(newStream: DataFrame, oldSnap: DataFrame,
      keyCols: Seq[String], compareCols: Seq[String] = Seq.empty): DataFrame = {
    require(keyCols.nonEmpty, "diffStream needs at least one key column")
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else oldSnap.columns.filterNot(keyCols.contains)
        .filter(newStream.columns.contains).toSeq
    val old = oldSnap.select((keyCols ++ cmp).map(col): _*)
      .withColumn("__in_old", lit(true)).alias("o")
    val nw = newStream.alias("n")
    val joinCond = keyCols.map(k => col(s"n.$k") === col(s"o.$k")).reduce(_ && _)
    val unchanged: Column =
      if (cmp.isEmpty) lit(true)
      else cmp.map(c => col(s"n.$c") <=> col(s"o.$c")).reduce(_ && _)
    nw.join(old, joinCond, "left_outer")
      .withColumn("diff_status",
        when(col("o.__in_old").isNull, "added")
          .when(unchanged, "same")
          .otherwise("changed"))
      .select(keyCols.map(k => col(s"n.$k").as(k)) ++
        newStream.columns.filterNot(keyCols.contains).toSeq.map(c => col(s"n.$c")) :+
        col("diff_status"): _*)
  }
}
