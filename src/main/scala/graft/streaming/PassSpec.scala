package graft.streaming

import graft.Tables.D2
import graft.streaming.StreamingOps.ColumnDefault
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}

/** The destination shape of a CDC pass: which state dir each table
  * applies to and how each is keyed. */
sealed trait Topology {
  /** table → state dir */
  def stateDirs: Map[String, String]
  /** table → primary key columns */
  def keyFor: Map[String, Seq[String]]
  def routes: Map[String, String] = Map.empty
}

/** One table in one state dir: every event of the stream applies to it,
  * whatever a `table` column says (that column stays bookkeeping and
  * never reaches state). The txn gate keeps its uncommitted tail under
  * `state/_pending`, and the pass reports the resolved position and
  * writes `_lag` marks. Per-table settings of a [[PassSpec]] are keyed
  * by [[OneTable.Table]]. */
final case class OneTable(state: String, keyCols: Seq[String] = Seq("okey"))
    extends Topology {
  def stateDirs: Map[String, String] = Map(OneTable.Table -> state)
  def keyFor: Map[String, Seq[String]] = Map(OneTable.Table -> keyCols)
}

object OneTable {
  val Table = "_"
}

/** N tables fed by one stream whose envelope carries a `table` column
  * (SURVEY §3.1 #2). Tables absent from `stateDirs` are skipped (the
  * TableFilter analogue); tables absent from `keyColsByTable` use
  * `keyCols`. The txn gate's uncommitted tail is topology-level and
  * lives under `ckpt/_pending`: pending epochs are keyed by the
  * checkpoint's batch ids, so the two lifecycles stay inseparable.
  *
  * `routes` maps SOURCE table names in the envelope onto DESTINATION
  * names — N sources routing to one destination merge shards (the
  * caller's contract is that merged shards' key spaces are disjoint).
  * Routing applies at batch entry, before the txn gate, so every other
  * per-table setting is keyed by destination name. Typos fail loudly
  * both ways: a route must land on a replicated table, and a
  * routed-away source name must not itself be replicated (its events
  * would silently split between two dirs). */
final case class FanOut(stateDirs: Map[String, String],
    keyCols: Seq[String] = Seq("okey"),
    keyColsByTable: Map[String, Seq[String]] = Map.empty,
    override val routes: Map[String, String] = Map.empty) extends Topology {
  require(routes.values.forall(stateDirs.contains),
    s"route target(s) not replicated: " +
      routes.values.filterNot(stateDirs.contains).toSeq.distinct.sorted
        .mkString(", "))
  require(!routes.keys.exists(stateDirs.contains),
    s"route source(s) also declared as destination table(s): " +
      routes.keys.filter(stateDirs.contains).toSeq.sorted.mkString(", "))
  require(keyColsByTable.keySet.subsetOf(stateDirs.keySet),
    s"per-table key declared for unreplicated table(s): " +
      (keyColsByTable.keySet -- stateDirs.keySet).toSeq.sorted.mkString(", "))
  def keyFor: Map[String, Seq[String]] =
    stateDirs.keys.map(t => t -> keyColsByTable.getOrElse(t, keyCols)).toMap
}

/** Mid-stream DDL a pass's envelope carries: RENAME COLUMN (old → new),
  * per-table TRUNCATE TABLE positions, ADD COLUMN … DEFAULT and DROP
  * COLUMN positions. Column verbs are envelope-wide: one binlog, one
  * shared envelope, so they apply to every table of the topology. */
final case class Ddl(renames: Map[String, String] = Map.empty,
    truncateAt: Map[String, Long] = Map.empty,
    defaults: Map[String, ColumnDefault] = Map.empty,
    drops: Map[String, Long] = Map.empty)

/** The strict before-image gate: every UPDATE's `beforeCol` must match
  * the `payloadCol` value the destination serves, or the event (and the
  * key's remaining batch chain) quarantines to `dlqDir`. */
final case class StrictBefore(payloadCol: String, beforeCol: String,
    dlqDir: String)

/** Everything one CDC pass applies, one field per concern (the envelope-
  * dependent checks run at pass start, see [[StreamingOps.runCdcPass]]).
  *
  *  - `txnCol`: transaction-boundary apply — only events whose `op = "C"`
  *    commit marker has arrived reach state; the column is consumed.
  *  - `startAfterSeq`: the explicit-position start; events at or below
  *    it are consumed but never applied.
  *  - `rowFilters` (table → SQL predicate) / `maskCols` (table → payload
  *    columns): only matching events replicate — deletes always bypass
  *    the predicate — and masked columns ship as NULL.
  *  - `computedCols`: destination columns computed per event after the
  *    masks (the ClickHouse MATERIALIZED column analogue).
  *  - `keepHistory`: store events verbatim instead of per-key winners.
  *  - `partialImageCol`: the columns-present list of a MINIMAL row-image
  *    stream; each batch completes into full images at apply.
  *  - `heartbeats`: the transport emits `op = "H"` keep-alive rows.
  *  - `trackSeq`: report the seen and applied positions. */
final case class PassSpec(topology: Topology,
    txnCol: Option[String] = None,
    startAfterSeq: Option[Long] = None,
    ddl: Ddl = Ddl(),
    rowFilters: Map[String, String] = Map.empty,
    maskCols: Map[String, Seq[String]] = Map.empty,
    computedCols: Seq[(String, String)] = Seq.empty,
    keepHistory: Boolean = false,
    partialImageCol: Option[String] = None,
    heartbeats: Boolean = false,
    strictBefore: Option[StrictBefore] = None,
    trackSeq: Boolean = false) {
  private def unreplicated(what: String, ts: Set[String]): Unit =
    require(ts.subsetOf(topology.stateDirs.keySet),
      s"$what declared for unreplicated table(s): " +
        (ts -- topology.stateDirs.keySet).toSeq.sorted.mkString(", "))
  unreplicated("truncate", ddl.truncateAt.keySet)
  unreplicated("row filter", rowFilters.keySet)
  unreplicated("column mask", maskCols.keySet)
  require(partialImageCol.isEmpty || !keepHistory,
    "partial-image completion folds each batch to full per-key " +
      "images; keepHistory stores events verbatim — the two modes " +
      "are mutually exclusive (complete upstream to retain history)")
  require(strictBefore.isEmpty || partialImageCol.isEmpty,
    "binlog_row_image=MINIMAL carries no before images — the " +
      "strict before-image gate and partial-image completion are " +
      "mutually exclusive by definition")
  // a row filter INTENTIONALLY diverges destination state from the
  // source, so a key whose prior update was filter-excluded would
  // quarantine its later admitted updates as false conflicts
  require(strictBefore.isEmpty || rowFilters.isEmpty,
    "strictBefore checks before images against destination state " +
      "that row filters have intentionally diverged from the " +
      "source — filter upstream, or replicate strictly and " +
      "unfiltered")
}

/** What one table took from a pass: rows applied (events after the
  * gate, filters and completion, before the collapse), delta epochs
  * written, and the newest applied seq. An MV pass reports its state
  * dir's entry as rows consumed and the resolved seq. */
final case class Applied(rows: Long, epochs: Long, maxSeq: Option[Long])

/** The outcome of one CDC pass.
  *
  *  - `rowsConsumed`: rows the stream delivered, applied or not.
  *  - `tables`: per-table [[Applied]] for every table that wrote a delta.
  *    A one-table pass without `trackSeq` runs no counting job: its
  *    entry reports the consumed rows and no seq.
  *  - `resolvedSeq`: the newest position the pass RESOLVED (one-table
  *    passes under `trackSeq`): applied events plus those resolved
  *    without applying — commit markers, capped heartbeats,
  *    position-skipped, filter-excluded and quarantined events.
  *  - `seenSeq`: the newest seq the pass saw (under `trackSeq`), ahead of
  *    the txn gate, so `seenSeq - resolvedSeq` reads as replication lag.
  *  - `pendingRows`: the txn gate's uncommitted tail after the pass (0
  *    when gating is off) — the signal of an ABANDONED transaction. */
final case class PassResult(rowsConsumed: Long, tables: Map[String, Applied],
    resolvedSeq: Option[Long], seenSeq: Option[Long], pendingRows: Long) {
  /** Delta epochs written to `table`'s state dir. */
  def epochs(table: String = OneTable.Table): Long =
    tables.get(table).fold(0L)(_.epochs)
}

/** The per-group view an MV pass keeps in step with its state dir. The
  * group column names a column of the image frame the view aggregates
  * (after `enrich`, for a [[SumView]]). */
sealed trait MvView {
  def groupCol: String
  /** The served view's schema, `groupCol` first. */
  def mvSchema: StructType
}

/** A RETRACTABLE view, `groupCol → (n_rows, total = sum(measureCol))`,
  * maintained by signed per-batch deltas: each touched key contributes
  * f(new image) − f(old image), never a recompute. `enrich` maps both
  * delta sides before grouping — a broadcast join against static
  * dimensions (the join-MV shape) or a derived group key. */
final case class SumView(groupCol: String = "status",
    measureCol: String = "price",
    enrich: DataFrame => DataFrame = identity) extends MvView {
  def mvSchema: StructType = StructType(Seq(
    StructField(groupCol, StringType), StructField("n_rows", LongType),
    StructField("total", D2)))
}

/** A NON-RETRACTABLE view (min/max, top-K, medians): the batch's DIRTY
  * groups recompute from a collapsed snapshot of the table partitioned
  * by `groupCol` under `snap`, while untouched groups' view rows carry
  * forward. `recompute` maps a set of groups' snapshot rows (collapsed,
  * alive, envelope-shaped) to their view rows, one or many per group;
  * `mvSchema` declares the view with `groupCol` first. */
final case class RecomputeView(groupCol: String, snap: String,
    mvSchema: StructType, recompute: DataFrame => DataFrame) extends MvView

object RecomputeView {
  /** `groupCol → (n_rows, mn = min(price), mx = max(price))`. */
  def minMax(snap: String, groupCol: String = "status"): RecomputeView =
    RecomputeView(groupCol, snap,
      StructType(Seq(StructField(groupCol, StringType),
        StructField("n_rows", LongType), StructField("mn", DoubleType),
        StructField("mx", DoubleType))),
      rows => rows.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"),
        min(col("price")).as("mn"), max(col("price")).as("mx")))
}

/** Everything one MV pass maintains: the table's `state` dir (keyed by
  * `keyCols`) and the `view` served from `mv`. `txnCol` gates both on
  * transaction boundaries, `trackSeq` reports positions under the CDC
  * pass's contract ([[PassResult]]), and `ddl` carries the column verbs
  * of [[Ddl]]. A TRUNCATE cannot be applied to a view incrementally, so
  * `ddl.truncateAt` refuses. */
final case class MvSpec(state: String, mv: String, view: MvView,
    keyCols: Seq[String] = Seq("okey"),
    txnCol: Option[String] = None,
    ddl: Ddl = Ddl(),
    trackSeq: Boolean = false) {
  require(ddl.truncateAt.isEmpty,
    "an MV pass cannot apply TRUNCATE TABLE to its view incrementally — " +
      "re-attach the view (mvAttach) after syncing the truncate")
}
