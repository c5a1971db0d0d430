package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation: an import, a drop or an entry. `error` holds an
  * exception or a failed output check. */
final class OpRec(val index: Int, val unit: Int, val name: String, val wallMs: Double,
    val cpuMs: Double, var error: Option[String]) {
  var metrics: Map[String, Double] = Map.empty
}

/** One unit of work, the sample of the end-to-end metric: an import, a
  * drop (landing to commit) or a pass over the entries. Skipped drops
  * are units without a latency sample. */
final class UnitRec(val index: Int, val phase: String, val wallMs: Double,
    val ops: Seq[OpRec], val skipped: Boolean = false) {
  val extras = mutable.HashMap[String, Double]()
}

/** What every workload shares: the session, the tracer, the work
  * directory, the seed, and the record of operations. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: File, val seed: Long) {
  private var opCount = 0
  val ops = mutable.ArrayBuffer[OpRec]()

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Times `body` as one operation. The trace's attribution runs after
    * the wall clock stops. */
  def op(unit: Int, name: String)(body: => Unit): OpRec = {
    opCount += 1
    val c0 = Harness.processCpuNs()
    val t0 = System.nanoTime()
    val err = try { tr.op(opCount, name)(body); None }
      catch { case e: Throwable => Some(Harness.describe(e)) }
    val wall = (System.nanoTime() - t0) / 1e6
    val rec = new OpRec(opCount, unit, name, wall, (Harness.processCpuNs() - c0) / 1e6, err)
    rec.metrics = tr.opMetrics(opCount)
    ops += rec
    rec
  }

  /** Runs an output check after the timed interval; a failed check or
    * an exception in it marks the operation failed. */
  def check(rec: OpRec)(c: => Option[String]): Unit =
    if (rec.error.isEmpty)
      rec.error = try c catch { case e: Throwable => Some("check: " + Harness.describe(e)) }

  def write(f: File, bytes: Array[Byte]): Unit = {
    val tmp = new File(f.getParentFile, "." + f.getName + ".tmp")
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The import ledger as a versioned parquet table: each commit reads
  * the current version and writes the next one (a table cannot be
  * overwritten while it is read). */
final class LedgerStore(ctx: Ctx) {
  private val dir = ctx.dir("ledger")
  private var version = 0
  def current: String = new File(dir, f"v$version%06d").getPath
  def load: DataFrame = graft.etl.Ledger.load(ctx.spark, current)
  def create(): Unit = graft.etl.Ledger.empty(ctx.spark).write.parquet(current)
  def commit(f: DataFrame => DataFrame): Unit = {
    val next = new File(dir, f"v${version + 1}%06d").getPath
    f(load).write.parquet(next)
    version += 1
  }
}

trait Workload {
  /** Units run before timing starts (counted in set-up time). */
  def warmup: Int
  /** Fewest units a timed phase measures, however long they take. */
  def minUnits: Int
  def setup(): Unit
  def unit(i: Int, phase: String): UnitRec
  /** Checks that need the whole run (after the last unit). */
  def finish(): Unit = ()
  /** Figures of the whole run: exact expected counts, digests, sizes. */
  def summary: Map[String, Any] = Map.empty
  /** What the seed made, without running anything: input checksums and
    * expected results (the benchmark's seed tests compare these). */
  def inputs: Map[String, Any]
}

object Harness {
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** CPU time of every thread of this JVM so far: the operation's cost
    * in CPU, which other load on the box barely changes. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def sizeOf(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.filterNot(_.getName.startsWith(".")).map(sizeOf).sum).getOrElse(0L)

  def dataFiles(f: File): Int =
    Option(f.listFiles()).map(_.count(x => x.getName.startsWith("part-"))).getOrElse(0)
}

/** Order-independent content digest of a table: row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Columns are
  * taken in name order; doubles are written at full precision. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def rowHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def line(values: Seq[Any], order: Seq[Int]): String = order.map(i => canon(values(i))).mkString("|")

  def order(columns: Seq[String]): Seq[Int] = columns.indices.sortBy(i => columns(i))

  def show(rows: Long, hash: Long): String = f"$rows:$hash%016x"

  def of(rows: Iterator[Seq[Any]], columns: Seq[String]): String = {
    val o = order(columns)
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(line(r, o)) }
    show(n, h)
  }

  /** Digest of a DataFrame's rows, hashed where the rows are. */
  def of(df: DataFrame): String = {
    val o = order(df.columns.toIndexedSeq)
    val (n, h) = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(line(r.toSeq, o)) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    show(n, h)
  }
}
