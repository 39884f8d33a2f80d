package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture building blocks for warehouse table maintenance:
  * SCD Type-2 history construction, changelog compaction
  * (last-writer-wins with deletes), and keyed snapshot diffing. The
  * reference maintains its serving tables with exactly this family —
  * insert-if-absent upserts (dags/search_engine/utils_of_searchengine.py:
  * 147-170) and full-rebuild swaps — but has no history/diff tooling;
  * these are the beyond-reference completions a warehouse user needs
  * next.
  *
  * Scale shape (100 TB): every operator here is a single hash shuffle
  * on the business key. scd2 is one window per key partition (no global
  * sort); compactChangelog is a map-side-combinable max(struct) agg,
  * NOT a window, so the shuffle carries one pre-combined row per
  * (mapper, key) rather than the full changelog; snapshotDiff is one
  * full-outer shuffle join. Nothing collects, nothing is pairwise.
  */
object Cdc {

  /** SCD Type-2 history from a change stream: one row per change with
    * `effective_from` = the change's sequence value, `effective_to` =
    * the next change's (null for the open row), `is_current` 1/0.
    *
    * `seqCols` must be a deterministic total order within a key (pass a
    * unique tiebreaker, e.g. the change id, after the event time —
    * equal-timestamp changes otherwise make the history
    * nondeterministic). The first seq column is the effective-time
    * axis.
    */
  def scd2(changes: DataFrame, keyCols: Seq[String], seqCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && seqCols.nonEmpty, "scd2 needs key and seq columns")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(seqCols.map(col): _*)
    val effTo = lead(col(seqCols.head), 1).over(w)
    changes
      .withColumn("effective_from", col(seqCols.head))
      .withColumn("effective_to", effTo)
      .withColumn("is_current", when(effTo.isNull, 1).otherwise(0))
  }

  /** Changelog compaction: latest surviving row per key. `opCol` holds
    * 'D' for deletes (key dropped when the LAST change is a delete);
    * anything else upserts. `seqCols` order changes within a key and
    * must be unique per key (last-writer-wins needs a writer order).
    *
    * Implemented as max(struct(seq..., payload...)) — a map-side-
    * combinable aggregate, so at scale each mapper pre-reduces its
    * slice of the changelog and the shuffle carries one candidate row
    * per (mapper, key), unlike a row_number window which shuffles the
    * entire changelog. Struct comparison is lexicographic on
    * (seqCols, payload); seq uniqueness means payload never decides.
    */
  def compactChangelog(changes: DataFrame, keyCols: Seq[String],
                       seqCols: Seq[String], opCol: String,
                       keepTombstones: Boolean = false): DataFrame = {
    require(seqCols.nonEmpty, "compactChangelog needs a writer order")
    val payload = changes.columns.filterNot(c =>
      keyCols.contains(c) || seqCols.contains(c)).toSeq
    val packed = struct((seqCols ++ payload).map(col): _*)
    val last = changes.groupBy(keyCols.map(col): _*).agg(max(packed).as("__last"))
    val unpacked = (seqCols ++ payload).foldLeft(last) { (df, c) =>
      df.withColumn(c, col(s"__last.$c"))
    }.drop("__last")
    // incremental/out-of-order consumers must RETAIN winning deletes as
    // tombstones (a later micro-batch may deliver an EARLIER change for
    // the key, which must stay dead); only a final read drops them
    if (keepTombstones) unpacked else unpacked.filter(col(opCol) =!= "D")
  }

  /** Keyed diff of two snapshots: rows only in `after` → 'added', only
    * in `before` → 'removed', in both with any differing payload column
    * → 'changed'; unchanged rows are dropped. Output carries the key,
    * `change_type`, and old_/new_-prefixed payload columns.
    *
    * One full-outer hash join on the key — the anti-entropy /
    * reconciliation primitive between a rebuilt table and its serving
    * copy (the reference's full-rebuild DAG swaps blindly; this is the
    * audited form).
    *
    * A keyed diff is defined only when the key picks out at most one
    * row per side: with two rows under one key the join pairs every
    * row of one side with every row of the other. The versioned store's
    * stored change feed relies on the same rule, which is what lets it
    * diff only the rows a commit changed ([[Versioned.writeFeedFor]])
    * and lets a merge-on-read commit's write tasks pair the rows each
    * of them changed without a join (`graft.sources.TaskFeed`, which
    * applies this method's `<=>` test and never pairs a NULL key).
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   keyCols: Seq[String], payload: Seq[String]): DataFrame = {
    // one projection per side (each Dataset is analyzed eagerly):
    // payload columns renamed in place, then the side's presence marker
    def side(df: DataFrame, prefix: String, marker: String): DataFrame =
      df.select(df.columns.toSeq.map { c =>
        val ref = df.col(s"`${c.replace("`", "``")}`")
        if (payload.contains(c)) ref.as(prefix + c) else ref
      } :+ lit(1).as(marker): _*)
    val b = side(before, "old_", "__in_b")
    val a = side(after, "new_", "__in_a")
    val joined = b.join(a, keyCols, "full_outer")
    val changed = payload.map(c =>
      !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col("__in_b").isNull, "added")
          .when(col("__in_a").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("change_type").isNotNull)
      .drop("__in_a", "__in_b")
  }
}
