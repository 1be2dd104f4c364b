package graft.cdcbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.Replication

/** The three read shapes a replica serves, each checked against what the
  * benchmark knows, timed as one sample of `read_<kind>`. */
object Reads extends AdaptiveSparkPlanHelper {
  /** Files the executed plan's scans opened (read after the action). */
  private def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
    }.sum

  private def timed(run: Run, kind: String, req: String, sample: Boolean)(
      body: => (DataFrame, Int)): Unit = {
    val t0 = System.nanoTime()
    val ok = run.op(req)(run.trace.span(s"read.$kind", req) {
      val (df, returned) = body
      run.add("read.rows_returned", returned)
      if (run.trace.on) run.add("read.files_opened", filesRead(df).toDouble)
    })
    if (ok.isDefined && sample) {
      run.sample(s"read_$kind", (System.nanoTime() - t0) / 1e9)
      run.add("reads", 1)
    }
  }

  /** One key of `t` from `appliedState`: exactly one row, that key, with
    * the expected image `want`. */
  def point(run: Run, t: Table, state: String, key: Seq[Any],
      want: Array[Any], req: String, sample: Boolean): Unit =
    timed(run, "point", req, sample) {
      val df = Replication.appliedState(run.spark, state)
        .filter(t.key.zip(key).map { case (c, v) => col(c) === lit(v) }
          .reduce(_ && _))
        .select(t.cols.map(c => col(c._1)): _*)
      val rows = df.collect()
      if (rows.length != 1 || t.keyIdx.toSeq.map(rows(0).get) != key)
        run.mismatch(s"$req: point lookup of live key $key returned ${rows.length} rows")
      else if (rows(0).toSeq != want.toSeq)
        run.mismatch(s"$req: key $key served ${rows(0)}, expected ${want.toSeq}")
      (df, rows.length)
    }

  /** A full-scan aggregate: served row count by `groupCol`, checked to
    * sum to `want` rows. */
  def scan(run: Run, state: String, groupCol: String, want: Long,
      req: String, sample: Boolean): Unit =
    timed(run, "scan", req, sample) {
      val df = Replication.appliedState(run.spark, state)
        .groupBy(groupCol).agg(count(lit(1)).as("n"))
      val rows = df.collect()
      val total = rows.map(_.getLong(1)).sum
      if (total != want)
        run.mismatch(s"$req: scan served $total rows, expected $want")
      (df, rows.length)
    }

  /** A change poll from `since`: every row newer than it, and at least
    * one when the replica has applied past it. */
  def changes(run: Run, state: String, keyCol: String, since: Long,
      applied: Long, req: String, sample: Boolean): Unit =
    timed(run, "changes", req, sample) {
      val df = Replication.changesSince(run.spark, state, since)
        .select(keyCol, "seq")
      val rows = df.collect()
      if (rows.exists(_.getLong(1) <= since) || (rows.isEmpty && applied > since))
        run.mismatch(s"$req: changes since $since returned ${rows.length} rows")
      (df, rows.length)
    }

  /** After the measured window: a fixed, seeded set of reads against the
    * final replica, checked exactly against the model. Change polls read
    * the last `changesWindow` positions before `applied`. Unsampled, it
    * warms the read path in set-up. */
  def probe(run: Run, t: Table, state: String, expected: Expected,
      groupCol: String, applied: Long, changesWindow: Long,
      rounds: Int, sample: Boolean = true): Unit =
    run.trace.span("probe", "probe") {
      val r = new Random(run.seed * 7 + 3)
      val live = expected.keys(t).toVector.sortBy(_.toString)
      val rows = expected.digest(t).rows
      val t0 = System.nanoTime()
      (0 until rounds).foreach { i =>
        val k = live(r.nextInt(live.size))
        point(run, t, state, k, expected.get(t, k).get, s"probe point $i", sample)
        scan(run, state, groupCol, rows, s"probe scan $i", sample)
        changes(run, state, t.key.head, math.max(0L, applied - changesWindow),
          applied, s"probe changes $i", sample)
      }
      if (sample) run.add("read_window_s", (System.nanoTime() - t0) / 1e9)
    }
}
