package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import graft.etl.{Ledger, ZipEtl}

/** `etl_bulk`: one import of a whole file through the reference flow,
  * against a stored target table:
  * checksum -> gate -> Running ledger row -> ingest -> dedup -> exclude
  * -> enrich -> upsert -> new target version -> Complete ledger row.
  *
  * Every import reads the same stored base version and a new file that
  * holds the same rows in another order, so every import does the same
  * work and must commit the same content (the order does not matter to
  * last-wins dedup). The base holds incomplete rows (null elevation),
  * rows older than the TTL, fresh complete rows (the ones exclusion
  * drops) and keys the file does not have. */
final class EtlBulk(ctx: Ctx, keys: Int) extends Workload {
  import ctx.{spark, tr}
  val warmup = 2
  val minUnits = 4

  private val in = ctx.dir("in")
  private val target = ctx.dir("target")
  private val ledger = new LedgerStore(ctx)
  private var lines: IndexedSeq[String] = IndexedSeq.empty
  private var expected = ""
  private var counts = Map.empty[String, Long]
  private var lastStored = (0L, 0L)
  private val run = LocalDate.parse(ZipEtl.runDate)

  private def base = new File(target, "v0").getPath

  def setup(): Unit = {
    val rnd = new Random(ctx.seed)
    val zipOffset = rnd.nextInt(50000)
    val recs = ZipGen.rows(rnd, 0, keys, zipOffset)
    lines = recs.map(_.csv)
    val winners = ZipGen.lastWins(recs)
    val fresh = LocalDate.parse(ZipEtl.freshThreshold)

    // stored target: 60% of the file's keys plus 10% keys of its own
    def stored(r: ZipGen.Rec): ZipGen.Target = {
      val u = rnd.nextDouble()
      val t = ZipGen.enriched(ZipGen.attrs(rnd, r), fresh.plusDays(rnd.nextInt(30).toLong))
      if (u < 0.15) t.copy(elevation = None)
      else if (u < 0.45) t.copy(modified = fresh.minusDays(1L + rnd.nextInt(60)))
      else t
    }
    val inputKeys = winners.keys.toIndexedSeq.sorted
    val baseRows = inputKeys.filter(_ => rnd.nextDouble() < 0.6).map(k => k -> stored(winners(k))) ++
      (keys until keys + keys / 10).map { g =>
        val r = ZipGen.keyed(rnd, g, zipOffset)
        r.key -> stored(r)
      }
    val baseMap = baseRows.toMap
    val schema = StructType(ZipGen.TargetColumns.zip(Seq(IntegerType, StringType, StringType,
      StringType, StringType, StringType, DateType, StringType, DoubleType, DoubleType,
      LongType, StringType, StringType, DateType)).map { case (n, t) => StructField(n, t) })
    spark.createDataFrame(java.util.List.of(baseRows.map(r => Row.fromSeq(r._2.values)): _*), schema)
      .write.parquet(base)
    ledger.create()

    // the books: what the import must commit
    val valid = baseMap.filter { case (_, t) => t.elevation.isDefined && !t.modified.isBefore(fresh) }
    val delta = inputKeys.filterNot(valid.contains)
    val out = baseMap ++ delta.map(k => k -> ZipGen.enriched(winners(k), run))
    expected = Digest.of(out.valuesIterator.map(_.values), ZipGen.TargetColumns)
    counts = Map("rows_in" -> recs.size.toLong, "rows_deduped" -> winners.size.toLong,
      "rows_excluded" -> (winners.size - delta.size).toLong, "rows_delta" -> delta.size.toLong,
      "rows_out" -> out.size.toLong)
  }

  /** Import i's file: the generated rows in an order of its own. */
  private def importBytes(i: Int): Array[Byte] =
    (ZipGen.Header +: new Random(ctx.seed * 1000 + i).shuffle(lines))
      .mkString("", "\n", "\n").getBytes(UTF_8)

  def inputs: Map[String, Any] = Map(
    "import0_sha256" -> Harness.sha256(importBytes(0)),
    "import1_sha256" -> Harness.sha256(importBytes(1)),
    "base_target" -> Digest.of(spark.read.parquet(base)),
    "expected_digest" -> expected, "expected_counts" -> counts)

  def unit(i: Int, phase: String): UnitRec = {
    val file = new File(in, s"import-$i.csv")
    ctx.write(file, importBytes(i))
    val outPath = new File(target, s"v${i + 1}").getPath
    var prefix = Map.empty[String, DataFrame]

    val rec = ctx.op(i, "import") {
      val checksum = tr.span("ledger.checksum") { Ledger.fileChecksum(file.getPath) }
      val go = tr.span("ledger.gate") {
        Ledger.shouldRun(ledger.load, checksum,
          ZipEtl.runDate, ZipEtl.ttlDays, forceRun = false)
      }
      if (!go) throw new IllegalStateException(s"gate skipped new file $file")
      tr.span("ledger.commit") {
        ledger.commit(Ledger.start(spark, _, i.toLong, file.getName, checksum, ZipEtl.runDate))
      }
      val ingested = ZipEtl.ingest(spark, file.getPath)
      val deduped = ZipEtl.dedupeLastWins(ingested)
      val stored = spark.read.parquet(base)
      val fresh = ZipEtl.excludeProcessed(deduped, stored)
      val delta = ZipEtl.enrich(fresh.drop("composite_key"))
        .withColumn("last_modified", lit(ZipEtl.runDate).cast("date"))
      prefix = Map("ingest" -> ingested, "dedup" -> deduped, "exclude" -> fresh, "enrich" -> delta)
      if (tr.on) {
        // stage self times as differences of prefix materializations;
        // this is the traced run's own overhead
        for (s <- Seq("ingest", "dedup", "exclude", "enrich"))
          tr.span(s"trace.prefix.$s") { prefix(s).write.format("noop").mode("overwrite").save() }
      }
      tr.span("zipetl.write") { ZipEtl.upsert(stored, delta).write.parquet(outPath) }
      tr.span("ledger.commit") {
        ledger.commit(Ledger.finish(_, i.toLong, Ledger.StatusComplete, ZipEtl.runDate))
      }
    }
    val u = new UnitRec(i, phase, rec.wallMs, Seq(rec))
    ctx.check(rec) {
      val got = Digest.of(spark.read.parquet(outPath))
      if (got == expected) None else Some(s"target digest $got, expected $expected")
    }
    if (tr.on) {
      val m = rec.metrics
      def ms(s: String) = m.getOrElse(s"trace.prefix.${s}_ms", 0.0)
      u.extras ++= Map(
        "zipetl.ingest_ms" -> ms("ingest"),
        "zipetl.dedup_ms" -> (ms("dedup") - ms("ingest")),
        "zipetl.exclude_ms" -> (ms("exclude") - ms("dedup")),
        "zipetl.enrich_ms" -> (ms("enrich") - ms("exclude")),
        "zipetl.upsert_commit_ms" -> (m.getOrElse("zipetl.write_ms", 0.0) - ms("enrich")))
      val rowsIn = prefix("ingest").count().toDouble
      val rowsDeduped = prefix("dedup").count().toDouble
      val rowsDelta = prefix("exclude").count().toDouble
      u.extras ++= Map("zipetl.rows_in" -> rowsIn, "zipetl.rows_deduped" -> rowsDeduped,
        "zipetl.rows_excluded" -> (rowsDeduped - rowsDelta), "zipetl.rows_delta" -> rowsDelta,
        "zipetl.rows_out" -> spark.read.parquet(outPath).count().toDouble,
        "zipetl.exclude_frac" -> (rowsDeduped - rowsDelta) / rowsDeduped)
    }
    file.delete()
    lastStored = (Harness.sizeOf(new File(outPath)), counts("rows_out"))
    if (i > 0) Harness.rmrf(new File(target, s"v$i"))
    u
  }

  /** The ledger must hold exactly one Complete row per import. */
  override def finish(): Unit = {
    val ledgerRows = ledger.load.collect()
    for (rec <- ctx.ops) ctx.check(rec) {
      val rows = ledgerRows.filter(_.getAs[Long]("import_id") == rec.unit.toLong)
      if (rows.length == 1 && rows(0).getAs[String]("status") == Ledger.StatusComplete) None
      else Some(s"ledger rows for import ${rec.unit}: ${rows.mkString(";")}")
    }
  }

  override def summary: Map[String, Any] = Map(
    "expected_digest" -> expected, "expected_counts" -> counts,
    "input_bytes" -> (lines.map(_.length + 1L).sum + ZipGen.Header.length + 1),
    "stored_bytes_per_row" -> lastStored._1.toDouble / lastStored._2)
}
