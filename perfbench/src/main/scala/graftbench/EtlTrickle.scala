package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import graft.etl.{Ledger, ZipEtl}
import graft.streaming.FileTrigger

/** `etl_trickle`: event-driven small drops. One unit: a CSV lands, then
  * checksum -> ledger load + gate -> Running ledger row -> the file moves
  * into the watch directory -> `FileTrigger.start` (an AvailableNow
  * file stream) -> await -> Complete ledger row. About one drop in ten
  * repeats the bytes of an earlier drop, and the gate must skip it.
  * Drops have disjoint keys, so the target must end with exactly the
  * distinct keys of the drops that ran. */
final class EtlTrickle(ctx: Ctx, keysPerDrop: Int) extends Workload {
  import ctx.{spark, tr}
  val warmup = 6
  val minUnits = 6

  private val landing = ctx.dir("landing")
  private val watch = ctx.dir("watch")
  private val out = ctx.dir("out")
  private val ckpt = new File(ctx.work, "ckpt")
  private val ledger = new LedgerStore(ctx)
  private val rnd = new Random(ctx.seed)
  private val zipOffset = rnd.nextInt(50000)
  private var nextKey = 0
  private val distinct = mutable.ArrayBuffer[(Array[Byte], Int)]()  // bytes, keys
  private val ran = mutable.ArrayBuffer[(OpRec, Int)]()            // op, expected rows
  private var planted = 0

  def setup(): Unit = ledger.create()

  /** The next drop: new rows with keys of their own, or (about one in
    * ten) the bytes of an earlier drop. Returns bytes, keys, repeat. */
  private def nextDrop(): (Array[Byte], Int, Boolean) =
    if (distinct.nonEmpty && rnd.nextDouble() < 0.1) {
      val (b, k) = distinct(rnd.nextInt(distinct.size))
      (b, k, true)
    } else {
      val b = ZipGen.csv(ZipGen.rows(rnd, nextKey, keysPerDrop, zipOffset)).getBytes(UTF_8)
      nextKey += keysPerDrop
      distinct += (b -> keysPerDrop)
      (b, keysPerDrop, false)
    }

  def inputs: Map[String, Any] = Map("drops" -> (0 until 30).map { _ =>
    val (b, k, repeat) = nextDrop()
    Map("sha256" -> Harness.sha256(b), "keys" -> k, "repeat" -> repeat)
  })

  def unit(i: Int, phase: String): UnitRec = {
    val (bytes, keys, repeat) = nextDrop()
    if (repeat) planted += 1
    val name = s"drop-$i.csv"
    val landed = new File(landing, name)
    ctx.write(landed, bytes)
    var skipped = false
    var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val filesBefore = Harness.dataFiles(out)

    val rec = ctx.op(i, "drop") {
      val checksum = tr.span("ledger.checksum") { Ledger.fileChecksum(landed.getPath) }
      val go = tr.span("ledger.gate") {
        Ledger.shouldRun(ledger.load, checksum,
          ZipEtl.runDate, ZipEtl.ttlDays, forceRun = false)
      }
      if (!go) skipped = true
      else {
        tr.span("ledger.commit") {
          ledger.commit(Ledger.start(spark, _, i.toLong, name, checksum, ZipEtl.runDate))
        }
        Files.move(landed.toPath, new File(watch, name).toPath)
        val q = tr.span("trigger.attach") {
          FileTrigger.start(spark, watch.getPath, out.getPath, ckpt.getPath)
        }
        tr.alias(q.runId.toString)
        tr.span("trigger.await") { q.awaitTermination() }
        q.exception.foreach(e => throw e)
        progress = q.recentProgress.toSeq
        tr.span("ledger.commit") {
          ledger.commit(Ledger.finish(_, i.toLong, Ledger.StatusComplete, ZipEtl.runDate))
        }
      }
    }
    landed.delete()
    ctx.check(rec) {
      if (skipped == repeat) None
      else Some(if (repeat) "gate ran a repeated file" else "gate skipped a new file")
    }
    if (!skipped) ran += (rec -> keys)
    val u = new UnitRec(i, phase, rec.wallMs, Seq(rec), skipped)
    u.extras("ledger.skips") = if (skipped) 1 else 0
    u.extras("ledger.skips_expected") = if (repeat) 1 else 0
    if (tr.on && !skipped) {
      for (p <- progress; (k, v) <- p.durationMs.asScala if k != "triggerExecution") {
        val snake = k.replaceAll("([A-Z])", "_$1").toLowerCase
        u.extras(s"trigger.${snake}_ms") = u.extras.getOrElse(s"trigger.${snake}_ms", 0.0) + v.doubleValue
      }
      u.extras("trigger.out_files") = Harness.dataFiles(out) - filesBefore
    }
    u
  }

  /** Target rows per micro-batch must equal the distinct keys of the
    * drop it came from, and the ledger must hold one Complete row per
    * drop that ran and nothing else. */
  override def finish(): Unit = {
    val perBatch = spark.read.parquet(out.getPath).groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ledgerRows = ledger.load.collect()
    for (((rec, keys), batch) <- ran.zipWithIndex) {
      ctx.check(rec) {
        val got = perBatch.getOrElse(batch.toLong, 0L)
        if (got == keys) None else Some(s"batch $batch has $got rows, expected $keys")
      }
      ctx.check(rec) {
        val rows = ledgerRows.filter(_.getAs[Long]("import_id") == rec.unit.toLong)
        if (rows.length == 1 && rows(0).getAs[String]("status") == Ledger.StatusComplete) None
        else Some(s"ledger rows for drop ${rec.unit}: ${rows.mkString(";")}")
      }
    }
    if (ledgerRows.length != ran.size || perBatch.size != ran.size)
      ran.lastOption.foreach { case (rec, _) =>
        ctx.check(rec)(Some(s"${ledgerRows.length} ledger rows and ${perBatch.size} batches for ${ran.size} drops"))
      }
  }

  override def summary: Map[String, Any] = {
    val rows = ran.map(_._2.toLong).sum
    Map("drops_ran" -> ran.size, "repeats_planted" -> planted, "target_rows" -> rows,
      "drop_bytes" -> distinct.headOption.map(_._1.length).getOrElse(0),
      "stored_bytes_per_row" -> Harness.sizeOf(out).toDouble / math.max(1L, rows))
  }
}
