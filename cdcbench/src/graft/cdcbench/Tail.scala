package graft.cdcbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.Replication
import graft.sources.BinlogBinary
import graft.streaming.StreamingOps

/** Live keys of one table, for picking update and delete targets. */
final class Keys {
  private val ks = ArrayBuffer.empty[Seq[Any]]
  private val at = scala.collection.mutable.HashMap.empty[Seq[Any], Int]
  def size: Int = ks.size
  def add(k: Seq[Any]): Unit = if (!at.contains(k)) { at(k) = ks.size; ks += k }
  def pick(r: Random): Seq[Any] = ks(r.nextInt(ks.size))
  def remove(k: Seq[Any]): Unit = at.remove(k).foreach { i =>
    val last = ks.remove(ks.size - 1)
    if (i < ks.size) { ks(i) = last; at(last) = i }
  }
}

/** Open-loop steady replication: multi-table binary rotations land on a
  * fixed schedule; one sync loop decodes what has landed, stages it,
  * applies it with `incrementalSyncMulti` and reads `replicaStatus`. */
object Tail {
  val RotationEvents = 250
  val RotationsPerSec = 8.0
  val ProbeRounds = 8
  val WarmReads = 2
  val FreshnessLimitSec = 20.0
  val tables = Seq(Model.lines, Model.orders, Model.users)

  /** Mostly inserts of fresh keys; some updates and deletes of live
    * ones. Transactions of 6 to 14 events. */
  final class Gen(seed: Long, expected: Expected) {
    private val r = new Random(seed)
    private val live = tables.map(t => t.name -> new Keys).toMap
    private var nextKey = 1L

    private def values(t: Table, key: Seq[Any]): Array[Any] = t.name match {
      case "orders" => Array(key(0), Seq("O", "F", "P")(r.nextInt(3)),
        r.nextInt(1000000).toLong, 1 + r.nextInt(50))
      case "lines" => Array(key(0), key(1), s"SKU-${r.nextInt(100000)}",
        r.nextInt(100000).toLong)
      case "users" => Array(key(0), s"user-${r.nextInt(1000000)}",
        r.nextInt(1000))
    }

    private def freshKey(t: Table): Seq[Any] = {
      nextKey += 1
      if (t.name == "lines") Seq[Any](nextKey, 1 + r.nextInt(7))
      else Seq[Any](nextKey)
    }

    def event(): Ev = {
      val u = r.nextDouble()
      val t = r.nextDouble() match {
        case x if x < 0.4 => Model.orders
        case x if x < 0.8 => Model.lines
        case _ => Model.users
      }
      val keys = live(t.name)
      val e =
        if (u < 0.85 || keys.size < 10) {
          val k = freshKey(t)
          keys.add(k)
          Ev(t, "I", values(t, k))
        } else if (u < 0.95) Ev(t, "U", values(t, keys.pick(r)))
        else {
          val k = keys.pick(r)
          keys.remove(k)
          Ev(t, "D", expected.get(t, k).get)
        }
      expected(e)
      e
    }

    def txn(): Seq[Ev] = Seq.fill(6 + r.nextInt(9))(event())
  }

  /** Renders `n` rotations into `dir`; returns each one's last row
    * position, event count and file size. */
  private def render(gen: Gen, dir: String, n: Int): Seq[(Long, Int, Long)] = {
    var pos = 4L
    var gno = 1L
    (0 until n).map { i =>
      val txns = ArrayBuffer.empty[Seq[Ev]]
      var events = 0
      while (events < RotationEvents) { val x = gen.txn(); txns += x; events += x.size }
      val (bytes, last) = Rotation.write(dir, f"bin.$i%06d", f"bin.${i + 1}%06d",
        tables, txns.toSeq, pos, gno)
      pos += Rotation.positions(txns.toSeq)
      gno += txns.size
      (last, events, bytes)
    }
  }

  /** One replica: decode dir per pass, staged waves, checkpoint, state. */
  final class Replica(run: Run, root: String) {
    val stateDirs = tables.map(t => t.name -> run.dir(s"$root/state/${t.name}")).toMap
    private val in = run.dir(s"$root/in")
    private val ckpt = run.dir(s"$root/ckpt")
    private val colsByTable = tables.map(t => t.name -> t.cols).toMap
    private val keyColsByTable = tables.map(t => t.name -> t.key).toMap
    private var pass = 0

    /** Decode, stage and apply the rotations in `dir`, then read the
      * replica's status; returns the newest applied position and the
      * nanoTime the apply call returned. */
    def sync(dir: String, req: String): (Long, Long) =
      run.trace.span("pass", req) {
        val df = run.trace.span("sources.index") {
          BinlogBinary.parseMultiTxn(run.spark, dir, colsByTable)
        }
        run.trace.span("staging") { StreamingOps.writeWave(df, in, pass) }
        val prog = run.trace.span("apply") {
          Replication.incrementalSyncMulti(run.spark, df.schema, in, ckpt,
            stateDirs, txnCol = Some("txn"), keyColsByTable = keyColsByTable)
        }
        val done = System.nanoTime()
        pass += 1
        val st = run.trace.span("status") {
          Replication.replicaStatus(run.spark, stateDirs("orders"),
            txnCol = Some("txn"), pendingRoot = Some(ckpt))
        }
        run.sample("apply.held_rows", st.pendingRows.toDouble)
        (prog.values.flatMap(_.lastSeq).maxOption.getOrElse(-1L), done)
      }
  }

  def run(run: Run): Result = {
    val expected = new Expected
    val staging = run.dir("staging")
    val landing = run.dir("landing")
    val n = math.max(1, math.round(RotationsPerSec * run.seconds).toInt)
    // render every rotation before the clock starts
    val rots = run.timed("render") { render(new Gen(run.seed, expected), staging, n) }
    val lastRow = rots.map(_._1)
    val events = rots.map(_._2)
    // a pass and reads on a scratch replica: the first ones of a JVM run
    // cold code
    run.timed("warmup") {
      val warm = new Replica(run, "warm")
      val dir = run.dir("warm/rotations")
      val warmModel = new Expected
      val warmRots = render(new Gen(run.seed + 1000003L, warmModel), dir, 8)
      warm.sync(dir, "warmup")
      Reads.probe(run, Model.orders, warm.stateDirs("orders"), warmModel,
        "status", warmRots.last._1, 5000L, WarmReads, sample = false)
    }
    val replica = new Replica(run, "replica")

    // the landing clock: rotation i is due at t0 + i / rate
    val periodNs = (1e9 / RotationsPerSec).toLong
    val t0 = System.nanoTime() + 100000000L
    val landed = new AtomicInteger()
    val lateness = new Array[Double](n)
    val lander = new Thread(() => {
      (0 until n).foreach { i =>
        val due = t0 + i * periodNs
        var now = System.nanoTime()
        while (now < due) {
          Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
          now = System.nanoTime()
        }
        Files.move(Paths.get(staging, f"bin.$i%06d"),
          Paths.get(landing, f"bin.$i%06d"), StandardCopyOption.ATOMIC_MOVE)
        lateness(i) = (System.nanoTime() - due) / 1e9
        landed.incrementAndGet()
      }
    }, "cdcbench-lander")
    lander.setDaemon(true)
    lander.start()

    var taken = 0
    var pass = 0
    val hardStop = t0 + (run.seconds + 90) * 1000000000L
    while (taken < n && System.nanoTime() < hardStop) {
      val avail = landed.get()
      if (avail == taken) Thread.sleep(1)
      else {
        val batch = taken until avail
        val pdir = run.dir(f"decode/p$pass%04d")
        batch.foreach(i => Files.move(Paths.get(landing, f"bin.$i%06d"),
          Paths.get(pdir, f"bin.$i%06d"), StandardCopyOption.ATOMIC_MOVE))
        val p0 = System.nanoTime()
        val res = run.op(s"pass $pass") {
          replica.sync(pdir, s"rotations ${batch.head}-${batch.last}")
        }
        run.add("busy_s", (System.nanoTime() - p0) / 1e9)
        run.sample("pass_s", (System.nanoTime() - p0) / 1e9)
        // events landed after this batch and not yet applied
        run.sample("status.lag_events",
          (batch.last + 1 until landed.get()).map(events(_).toDouble).sum)
        res.foreach { case (applied, done) =>
          batch.foreach { i =>
            run.attempted.incrementAndGet()
            val fresh = (done - (t0 + i * periodNs)) / 1e9
            if (applied < lastRow(i)) run.mismatch(
              s"pass $pass applied through $applied, below rotation $i's last row ${lastRow(i)}")
            else if (fresh > FreshnessLimitSec) {
              run.failed.incrementAndGet()
              run.errors.add(f"rotation $i missed the freshness limit: $fresh%.2f s")
            }
            run.sample("freshness_s", fresh)
          }
        }
        run.add("events", batch.map(events(_).toDouble).sum)
        run.add("passes", 1)
        taken = avail
        pass += 1
      }
    }
    run.add("window_s", (System.nanoTime() - t0) / 1e9)
    lander.join(10000)
    if (taken < n) run.mismatch(s"only $taken of $n rotations applied before the hard stop")
    lateness.foreach(run.sample("gen.lateness_s", _))
    run.add("binlog_bytes", rots.map(_._3.toDouble).sum)

    // output check: every table's served state against the model, then
    // the read probe on the orders table
    tables.foreach(t => Checks.state(run, t, replica.stateDirs(t.name), expected))
    Reads.probe(run, Model.orders, replica.stateDirs("orders"), expected,
      "status", lastRow.last, 5000L, ProbeRounds)
    Result(stateBytes = replica.stateDirs.values.map(Disk.bytes).sum,
      stateDirs = replica.stateDirs.values.toSeq)
  }
}
