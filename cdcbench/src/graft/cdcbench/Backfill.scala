package graft.cdcbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.Replication
import graft.sources.BinlogBinary
import graft.streaming.StreamingOps

/** Catch-up after an outage: a backlog of binary rotations for one wide
  * table is decoded, staged and applied in one `incrementalSync` pass,
  * then the replica is read once. Each round replays the same backlog
  * into a fresh replica; rounds repeat until the run's time is up. */
object Backfill {
  val BacklogEvents = 80000
  val Rotations = 8
  val ProbeRounds = 8
  val WarmReads = 2
  val MinRounds = 3
  val WarmRounds = 2
  val EventsPerKey = 5
  val ZipfS = 0.9
  val t = Model.wide

  /** Zipf-skewed updates over a fixed key space, about 10% deletes; a
    * deleted key comes back with an insert. */
  final class Gen(seed: Long, expected: Expected) {
    private val r = new Random(seed)
    private val keys = BacklogEvents / EventsPerKey
    private val cdf = {
      val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    // rank → key id, shuffled so hot keys are spread over the key space
    private val ids = r.shuffle((1L to keys.toLong).toVector)
    private val live = new Array[Boolean](keys)

    private def values(k: Long): Array[Any] = Array(k,
      Seq("O", "F", "P")(r.nextInt(3)), r.nextInt(1000000).toLong,
      1 + r.nextInt(50), r.nextInt(100) / 100.0, r.nextInt(150000).toLong,
      Seq("EU", "US", "APAC", "LATAM")(r.nextInt(4)), r.nextInt(5),
      r.nextInt(100000).toLong, s"note ${r.nextInt(100000)}",
      r.nextInt(30) / 100.0, r.nextInt(1000))

    var count = 0L

    def event(): Ev = {
      count += 1
      val rank = java.util.Arrays.binarySearch(cdf, r.nextDouble()) match {
        case i if i >= 0 => i
        case i => math.min(-i - 1, keys - 1)
      }
      val k = ids(rank)
      val e =
        if (!live(rank)) { live(rank) = true; Ev(t, "I", values(k)) }
        else if (r.nextDouble() < 0.125) {
          live(rank) = false
          Ev(t, "D", expected.get(t, Seq(k)).get)
        } else Ev(t, "U", values(k))
      expected(e)
      e
    }

    def txn(): Seq[Ev] = Seq.fill(6 + r.nextInt(9))(event())
  }

  /** Renders a backlog of `events` events in `rotations` files; returns
    * the last row position of each. */
  private def render(gen: Gen, dir: String, events: Int,
      rotations: Int): Seq[Long] = {
    var pos = 4L
    var gno = 1L
    (0 until rotations).map { i =>
      val txns = ArrayBuffer.empty[Seq[Ev]]
      var n = 0
      while (n < events / rotations) { val x = gen.txn(); txns += x; n += x.size }
      val (_, last) = Rotation.write(dir, f"bin.$i%06d", f"bin.${i + 1}%06d",
        Seq(t), txns.toSeq, pos, gno)
      pos += Rotation.positions(txns.toSeq)
      gno += txns.size
      last
    }
  }

  /** One catch-up: decode, stage and apply the backlog into a fresh
    * replica under `base`, then count the served rows. Returns the state
    * dir, the served count and the nanoTime the apply call returned. */
  private def catchUp(run: Run, backlog: String, base: String,
      req: String): (String, Long, Long) =
    run.trace.span("pass", req) {
      val (in, ckpt, state) = (s"$base/in", s"$base/ckpt", s"$base/state")
      val df = run.trace.span("sources.index") {
        BinlogBinary.parseTxn(run.spark, backlog, t.cols)
      }
      run.trace.span("staging") { StreamingOps.writeWave(df, in, 0) }
      val prog = run.trace.span("apply") {
        Replication.incrementalSync(run.spark, df.schema, in, ckpt, state,
          txnCol = Some("txn"))
      }
      val applied = System.nanoTime()
      run.sample("apply.held_rows", prog.pendingRows.toDouble)
      val n = run.trace.span("read.scan") {
        Replication.appliedState(run.spark, state).count()
      }
      (state, n, applied)
    }

  def run(run: Run): Result = {
    val expected = new Expected
    val backlog = run.dir("backlog")
    val gen = new Gen(run.seed, expected)
    val rotEnds = run.timed("render") {
      render(gen, backlog, BacklogEvents, Rotations)
    }
    val events = gen.count
    run.add("binlog_bytes", Disk.bytes(backlog).toDouble)
    val wantRows = expected.digest(t).rows
    // full rounds and reads in set-up: the first rounds of a JVM run cold
    // code and would otherwise weigh on the medians by how many rounds
    // follow them
    run.timed("warmup") {
      (0 until WarmRounds).foreach { i =>
        val (state, _, _) = catchUp(run, backlog, run.dir(s"warm$i"), s"warmup $i")
        if (i == WarmRounds - 1) Reads.probe(run, t, state, expected, "region",
          rotEnds.last, 5000L, WarmReads, sample = false)
        Disk.rmr(new java.io.File(state).getParentFile)
      }
    }

    // rounds replay the backlog into fresh replicas while another round
    // fits in the run's time, and at least MinRounds so that the median
    // never rests on one or two rounds
    val end = System.nanoTime() + run.seconds * 1000000000L
    var round = 0
    var lastState = ""
    var lastWall = 0L
    while (round < MinRounds || System.nanoTime() + lastWall <= end) {
      val base = run.dir(s"round$round")
      val req = s"round $round"
      val t0 = System.nanoTime()
      run.op(req)(catchUp(run, backlog, base, req)).foreach {
        case (state, n, applied) =>
          lastWall = System.nanoTime() - t0
          val wall = lastWall / 1e9
          if (n != wantRows) run.mismatch(s"$req: served $n rows, expected $wantRows")
          // the whole backlog was due when the round started
          run.sample("freshness_s", (applied - t0) / 1e9)
          run.sample("catchup_events_per_s", events / wall)
          run.sample("pass_s", wall)
          run.add("events", events.toDouble)
          run.add("passes", 1)
          if (lastState.nonEmpty) Disk.rmr(new java.io.File(lastState).getParentFile)
          lastState = state
      }
      round += 1
    }
    Checks.state(run, t, lastState, expected)
    Reads.probe(run, t, lastState, expected, "region", rotEnds.last, 5000L,
      ProbeRounds)
    Result(stateBytes = Disk.bytes(lastState), stateDirs = Seq(lastState))
  }
}
