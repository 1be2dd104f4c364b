package graft.cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the tracer, the
  * scratch dir, op accounting and the recorded samples. */
final class Run(val spark: SparkSession, val trace: Tracer,
    val work: String, val seed: Long, val seconds: Int,
    val sessionSec: Double, val wrongExpectation: Boolean = false) {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val errors = new ConcurrentLinkedQueue[String]()
  /** Correctness failures: a wrong result fails the whole run. */
  val wrong = new ConcurrentLinkedQueue[String]()
  val setup = mutable.LinkedHashMap.empty[String, Double]
  private val samples = new java.util.concurrent.ConcurrentHashMap[String,
    ConcurrentLinkedQueue[Double]]()
  /** Counters a workload reports for the per-layer block. */
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]())
      .add(v)
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).fold(Seq.empty[Double])(_.asScala.toSeq)

  def add(name: String, v: Double): Unit = counts.merge(name, v, _ + _)
  def count(name: String): Double = counts.getOrDefault(name, 0.0)

  /** Runs one op; a throw counts as a failed op and is recorded. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        errors.add(s"$what: $e")
        Console.err.println(s"[cdcbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A wrong result: counted as a failed op and fails the run. */
  def mismatch(what: String): Unit = {
    failed.incrementAndGet()
    wrong.add(what)
    Console.err.println(s"[cdcbench] WRONG: $what")
  }

  /** Times one set-up stage; traced, it is a `setup.<stage>` span. */
  def timed[T](stage: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try trace.span(s"setup.$stage", stage)(body)
    finally setup(stage) = setup.getOrElse(stage, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method). */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Directory sizes, read with java.io — never through the engine. */
object Disk {
  def files(root: String): Seq[java.io.File] = {
    val f = new java.io.File(root)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c =>
      if (c.isDirectory) files(c.getPath) else Seq(c))
    else if (f.isFile) Seq(f) else Seq.empty
  }
  def bytes(root: String): Long = files(root).map(_.length).sum
  def dataFiles(root: String): Int =
    files(root).count(_.getName.endsWith(".parquet"))
  def deltaEpochs(root: String): Int =
    Option(new java.io.File(root).listFiles()).toSeq.flatten.count(f =>
      f.isDirectory && f.getName.startsWith("epoch=") &&
        f.getName.stripPrefix("epoch=").toLongOption.exists(_ >= 0))

  def rmr(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmr)
    f.delete()
    ()
  }
}

/** Memory of this JVM. The heap is fixed and pre-touched (run.py), so
  * the resident peak holds the whole heap from the start and moves only
  * with native and off-heap memory; heap use is read from the pools. */
object Jvm {
  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1)
        .toDouble / 1024.0).getOrElse(Double.NaN)).getOrElse(Double.NaN)

  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak use of each heap pool since the JVM started, in MB. */
  def heapPoolPeaksMb(): Seq[(String, Double)] =
    heapPools.map(p => p.getName -> p.getPeakUsage.getUsed / (1024.0 * 1024.0))

  /** Peak use of the old-generation pools, in MB: what the run kept
    * alive long enough to be promoted. The young pools' peaks follow how
    * the collector sized them within the fixed heap, not the workload. */
  def oldGenPeakMb(): Double = heapPoolPeaksMb().collect {
    case (n, mb) if !n.contains("Eden") && !n.contains("Survivor") => mb
  }.sum
}
