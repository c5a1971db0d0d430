package graftbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.DataFrame
import graft.{GenScale, SparkEntry}

/** `queries`: one unit is a pass over a fixed list of
  * `SparkEntry.queries` entries in a seed-driven order. One operation is
  * one entry: build the DataFrame (the entry's eager jobs run here),
  * then plan and execute it into the `noop` sink. The cache is cleared
  * after each entry. The tables come from `GenScale` at scale `sf`; they
  * do not depend on the seed, so a checkout generates them once into
  * `tables` and later runs read them.
  *
  * The output check re-executes the built DataFrame outside the timed
  * interval and compares its row count and content digest with the
  * recorded value (`expected`), or records it when `record` is set. */
final class Entries(ctx: Ctx, names: Seq[String], sf: Double, tables: File,
    expected: Map[String, String], record: Option[File]) extends Workload {
  import ctx.{spark, tr}
  val warmup = 1
  val minUnits = 2

  private val data = tables.getPath
  private lazy val queries = SparkEntry.queries
  private val observed = scala.collection.mutable.LinkedHashMap[String, String]()
  private val failed = scala.collection.mutable.HashMap[String, String]()

  def setup(): Unit = {
    if (!tables.exists) {
      val tmp = new File(tables.getPath + s".tmp-${ProcessHandle.current().pid()}")
      GenScale.gen(spark, tmp.getPath, sf)
      java.nio.file.Files.move(tmp.toPath, tables.toPath)
    }
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"no such entries: ${unknown.mkString(",")}")
  }

  private def order(pass: Int): Seq[String] = new Random(ctx.seed * 7919 + pass).shuffle(names)

  def inputs: Map[String, Any] = Map("sf" -> sf, "tables" -> Harness.sha256(
    new File(data).listFiles().sortBy(_.getName).flatMap(t => Digest.of(spark.read.parquet(t.getPath)).getBytes)),
    "orders" -> (0 until 3).map(order))

  def unit(i: Int, phase: String): UnitRec = {
    val ops = order(i).map { name =>
      var df: DataFrame = null
      val rec = ctx.op(i, name) {
        df = tr.span("entry.build") { queries(name)(spark, data) }
        tr.span("entry.write") { df.write.format("noop").mode("overwrite").save() }
      }
      // each entry's output is checked in the warm-up pass; a timed
      // operation of an entry whose check failed counts as failed too
      // (record mode checks every pass: the digest must not change)
      if (phase == "warmup" || record.isDefined) ctx.check(rec) {
        val got = Digest.of(df)
        val want = if (record.isDefined) observed.get(name) else expected.get(name)
        observed(name) = got
        if (want.forall(_ == got) && (record.isDefined || want.isDefined)) None
        else Some(s"digest $got, expected ${want.getOrElse("none recorded")}")
      } else ctx.check(rec)(failed.get(name))
      if (phase == "warmup") rec.error.foreach(e => failed(name) = s"failed in warm-up: $e")
      spark.catalog.clearCache()
      if (tr.on) {
        val plan = rec.metrics.getOrElse("last_query.plan_ms", 0.0)
        rec.metrics ++= Map("entry.plan_ms" -> plan,
          "entry.exec_ms" -> (rec.metrics.getOrElse("entry.write_ms", 0.0) - plan),
          s"$name.wall_ms" -> rec.wallMs,
          s"$name.build_jobs" -> rec.metrics.getOrElse("entry.build_jobs", 0.0))
      }
      rec
    }
    new UnitRec(i, phase, ops.map(_.wallMs).sum, ops)
  }

  override def finish(): Unit = record.foreach { f =>
    val body = observed.toSeq.sortBy(_._1).map { case (k, v) => s"""  "$k": "$v"""" }
    java.nio.file.Files.writeString(f.toPath, body.mkString("{\n", ",\n", "\n}\n"))
  }

  override def summary: Map[String, Any] = Map("sf" -> sf, "entries" -> names.size)
}
