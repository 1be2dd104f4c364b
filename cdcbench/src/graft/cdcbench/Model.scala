package graft.cdcbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** One replicated table as the source declares it: the TABLE_MAP column
  * list (binlog order) and its primary key. */
final case class Table(name: String, id: Long, cols: Seq[(String, DataType)],
    key: Seq[String]) {
  val keyIdx: Array[Int] = key.map(k => cols.indexWhere(_._1 == k)).toArray
}

/** One change event as the generator emits it: `values` in the table's
  * column order (a delete carries the before image). */
final case class Ev(table: Table, op: String, values: Array[Any]) {
  def key: Seq[Any] = table.keyIdx.toSeq.map(values(_))
}

object Model {
  val orders = Table("orders", 101L, Seq("okey" -> LongType,
    "status" -> StringType, "price" -> LongType, "qty" -> IntegerType),
    Seq("okey"))
  val lines = Table("lines", 102L, Seq("okey" -> LongType,
    "line" -> IntegerType, "sku" -> StringType, "amt" -> LongType),
    Seq("okey", "line"))
  val users = Table("users", 103L, Seq("uid" -> LongType,
    "name" -> StringType, "score" -> IntegerType), Seq("uid"))
  /** The single wide table of the backfill workload. */
  val wide = Table("orders", 101L, Seq("okey" -> LongType,
    "status" -> StringType, "price" -> LongType, "qty" -> IntegerType,
    "disc" -> DoubleType, "cust" -> LongType, "region" -> StringType,
    "prio" -> IntegerType, "ship" -> LongType, "note" -> StringType,
    "tax" -> DoubleType, "clerk" -> IntegerType), Seq("okey"))

  val Uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
  private val BaseSec = 1700000000L

  /** Second-granular event clock derived from the binlog position. */
  def tsOf(pos: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(BaseSec + pos / 1000, 0, ZoneOffset.UTC)

  /** Order-independent 64-bit hash of one served row — the benchmark's
    * own function, applied to the model and to the engine's output. */
  def rowHash(table: String, values: Seq[Any]): Long = {
    var a = MurmurHash3.stringHash(table)
    var b = a * 31 + 7
    values.foreach { v =>
      val h = v match {
        case null => 0x5bd1e995
        case l: Long => java.lang.Long.hashCode(l) * 17 + 1
        case i: Int => i * 13 + 2
        case d: Double => java.lang.Long.hashCode(
          java.lang.Double.doubleToLongBits(d)) * 11 + 3
        case s: String => MurmurHash3.stringHash(s)
        case other => throw new IllegalArgumentException(
          s"unhashed value type ${other.getClass}")
      }
      a = MurmurHash3.mix(a, h)
      b = MurmurHash3.mix(b, h ^ 0x27d4eb2d)
    }
    (MurmurHash3.finalizeHash(a, values.size).toLong << 32) |
      (MurmurHash3.finalizeHash(b, values.size).toLong & 0xffffffffL)
  }

  /** (rows, wrapping sum of row hashes, xor of row hashes). */
  final case class Digest(rows: Long, sum: Long, xor: Long) {
    def +(h: Long): Digest = Digest(rows + 1, sum + h, xor ^ h)
    def ++(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  }
  val Empty: Digest = Digest(0L, 0L, 0L)

  /** Digest of a served frame over `t`'s columns, computed in tasks with
    * [[rowHash]]. */
  def digestOf(df: DataFrame, t: Table): Digest = {
    val name = t.name
    val n = t.cols.length
    df.select(t.cols.map(c => df.col(c._1)): _*).rdd
      .mapPartitions { it =>
        var d = Empty
        it.foreach(r => d = d + rowHash(name, (0 until n).map(r.get)))
        Iterator(d)
      }
      .fold(Empty)(_ ++ _)
  }
}

/** The benchmark's reference: latest row per key from the generated
  * events, computed without the engine. */
final class Expected {
  private val live = mutable.HashMap.empty[(String, Seq[Any]), Array[Any]]

  def apply(e: Ev): Unit =
    if (e.op == "D") live.remove((e.table.name, e.key))
    else live((e.table.name, e.key)) = e.values

  def get(t: Table, key: Seq[Any]): Option[Array[Any]] =
    live.get((t.name, key))

  def keys(t: Table): Iterator[Seq[Any]] =
    live.keysIterator.filter(_._1 == t.name).map(_._2)

  /** `dropOne` forgets one row: a deliberately wrong expectation. */
  def digest(t: Table, dropOne: Boolean = false): Model.Digest =
    live.iterator.filter(_._1._1 == t.name).drop(if (dropOne) 1 else 0)
      .foldLeft(Model.Empty)((d, kv) =>
        d + Model.rowHash(t.name, kv._2.toSeq))
}

/** Binlog rotation files written with the engine's public binary
  * renderer pieces: FDE-led, TABLE_MAP per table, then GTID / rows / Xid
  * per transaction, closed by ROTATE. Positions are dump-global and one
  * per event, so a row's position is its commit order. */
object Rotation {
  import graft.sources.BinlogBinary

  /** Render `txns` into rotation `name` under `dir`; returns the file
    * size and the position of its last row event. `firstPos` is the first
    * free position, `firstGno` the next GTID number. */
  def write(dir: String, name: String, nextName: String,
      tables: Seq[Table], txns: Seq[Seq[Ev]], firstPos: Long,
      firstGno: Long): (Long, Long) = {
    val events = Vector.newBuilder[Array[Byte]]
    tables.foreach(t =>
      events += BinlogBinary.tableMapEvent(t.name, t.cols, tableId = t.id,
        pk = t.key))
    var pos = firstPos
    var gno = firstGno
    var lastRow = -1L
    txns.foreach { txn =>
      events += BinlogBinary.gtidEvent(pos, Model.tsOf(pos)
        .toEpochSecond(ZoneOffset.UTC), Model.Uuid, gno)
      pos += 1
      txn.foreach { e =>
        val r = Row.fromSeq(Seq(e.op, pos, Model.tsOf(pos)) ++ e.values)
        events += BinlogBinary.rowsEvent(r, e.table.cols, tableId = e.table.id)
        lastRow = pos
        pos += 1
      }
      events += BinlogBinary.xidEvent(pos, Model.tsOf(pos)
        .toEpochSecond(ZoneOffset.UTC), gno)
      pos += 1
      gno += 1
    }
    events += BinlogBinary.rotateEvent(nextName)
    BinlogBinary.writeEvents(dir, name, events.result())
    (new java.io.File(dir, name).length(), lastRow)
  }

  /** Events per transaction in `txns`, plus the markers the position
    * counter spends (GTID + Xid). */
  def positions(txns: Seq[Seq[Ev]]): Long = txns.map(_.size + 2L).sum
}
