package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** One timed phase of an operation, as the harness saw it. */
final case class Phase(name: String, start: Double, end: Double)

/** A benchmark workload: a fixed list of operations, run in passes. */
trait Workload {
  def ops: Seq[String]
  /** Operation order of pass `pass` (0 is the warm-up pass). */
  def order(pass: Int): Seq[String]
  /** Run one operation; returns its phases. Throws on failure. */
  def run(op: String): Seq[Phase]
  /** Warm-up run of `op` with its full correctness check. */
  def warm(op: String): Option[String]
  /** Cheap check after every timed run of `op` (outside its timing). */
  def check(op: String): Option[String]
  /** Rows the operation returns or writes. */
  def rowsOut(op: String): Long
  /** Input the operation reads outside Spark's scan metrics. */
  def extraRead(op: String): (Long, Long) = (0L, 0L)
  /** Bytes and files the operation leaves in its sink. */
  def written(op: String): (Long, Long) = (0L, 0L)
}

object Workload {
  def now(): Double = Main.nowMs()

  /** Local properties tag the jobs a phase submits (see Tracer). */
  def phase[T](spark: SparkSession, op: String, name: String)(body: => T): (T, Phase) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, op)
    sc.setLocalProperty(Tracer.PhaseKey, name)
    val t0 = now()
    val r = body
    (r, Phase(name, t0, now()))
  }

  def shuffled(ops: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}

/** Queries from `SparkEntry.queries`, each over its catalog directory,
  * built, top sort stripped, and written to the `noop` sink, exactly as
  * the `Bench` board runs them. The warm-up pass fingerprints each result
  * against the stored expectation. */
final class QueryWorkload(spark: SparkSession, opDirs: Seq[(String, String)],
                          seed: Long, expected: Map[String, String]) extends Workload {
  import Workload._

  val ops: Seq[String] = opDirs.map(_._1)
  private val dirs = opDirs.toMap
  private def frame(q: String) =
    PlanBridge.stripTopSort(graft.SparkEntry.queries(q)(spark, dirs(q)))

  def order(pass: Int): Seq[String] = shuffled(ops, seed, pass)

  def run(op: String): Seq[Phase] = {
    val (df, build) = phase(spark, op, "build")(frame(op))
    val (_, action) = phase(spark, op, "action") {
      df.write.format("noop").mode("overwrite").save()
    }
    Seq(build, action)
  }

  /** One execution per query: the fingerprint pass is the warm-up. */
  def warm(op: String): Option[String] = {
    val (got, _) = phase(spark, op, "warm")(Fingerprint.of(frame(op)))
    expected.get(op) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"fingerprint $got, expected $want")
      case None => Some(s"no expected fingerprint (got $got)")
    }
  }

  def check(op: String): Option[String] = None

  def rowsOut(op: String): Long =
    expected.get(op).map(_.takeWhile(_ != ':').toLong).getOrElse(0L)
}

/** gedixr's own path through `Cli.run`: pipeline L2A and L2B (quality
  * filter and bbox subset fused with ingest), merge, rasterize, and a
  * two-polygon AOI subset, each writing parquet and one `RunLog` line.
  * The order is fixed by the data flow; the seed shapes the granules. */
final class CliWorkload(spark: SparkSession, spec: java.util.Map[String, AnyRef])
    extends Workload {
  import Workload._

  private def s(k: String): String = spec.get(k).toString
  private def num(m: AnyRef, k: String): Long =
    m.asInstanceOf[java.util.Map[String, AnyRef]].get(k).asInstanceOf[Number].longValue
  private val exp = spec.get("expected")
  private val out = s("out")
  private val log = s("log")
  private val xy = Map("x" -> "longitude_l2a", "y" -> "latitude_l2a")

  val ops: Seq[String] =
    Seq("pipeline_l2a", "pipeline_l2b", "merge", "rasterize", "subset_aoi")

  private val steps: Map[String, (String, Map[String, String])] = Map(
    "pipeline_l2a" -> ("pipeline" -> Map("input" -> s("granules"),
      "output" -> s"$out/l2a", "product" -> "L2A", "quality" -> "1",
      "bbox" -> s("bbox"))),
    "pipeline_l2b" -> ("pipeline" -> Map("input" -> s("granules"),
      "output" -> s"$out/l2b", "product" -> "L2B", "quality" -> "1",
      "bbox" -> s("bbox"))),
    "merge" -> ("merge" -> Map("left" -> s"$out/l2a", "right" -> s"$out/l2b",
      "output" -> s"$out/merged", "on" -> "shot,acq_time")),
    "rasterize" -> ("rasterize" -> (xy ++ Map("input" -> s"$out/merged",
      "output" -> s"$out/raster", "res" -> s("res"), "sum" -> "rh98"))),
    "subset_aoi" -> ("subset" -> (xy ++ Map("input" -> s"$out/merged",
      "output" -> s"$out/aoi", "aoi" -> s("aoi")))))

  def order(pass: Int): Seq[String] = ops

  def run(op: String): Seq[Phase] = {
    val (cmd, opts) = steps(op)
    val (_, p) = phase(spark, op, s"cli.$cmd") {
      graft.Cli.run(spark, cmd, opts + ("log" -> log))
    }
    Seq(p)
  }

  private val expectedOutput: Map[String, Long] = Map(
    "pipeline_l2a" -> num(exp, "l2a_rows"), "pipeline_l2b" -> num(exp, "l2b_rows"),
    "merge" -> num(exp, "merged_rows"), "rasterize" -> num(exp, "raster_cells"),
    "subset_aoi" -> -1L)
  private val expectedInput: Map[String, Long] = Map(
    "merge" -> num(exp, "l2a_rows"), "rasterize" -> num(exp, "merged_rows"),
    "subset_aoi" -> num(exp, "merged_rows"))
  private val aoiRows: Map[String, Long] = exp.asInstanceOf[java.util.Map[String, AnyRef]]
    .get("aoi_rows").asInstanceOf[java.util.Map[String, AnyRef]].asScala
    .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }.toMap

  /** The RunLog line this op just appended: command, status, counts. */
  def check(op: String): Option[String] = {
    val lines = Files.readAllLines(Paths.get(log))
    val last = Main.json.readValue(lines.get(lines.size - 1), classOf[java.util.Map[String, AnyRef]])
    def n(k: String): Long = Option(last.get(k)).map(_.asInstanceOf[Number].longValue).getOrElse(-2L)
    val errs = Seq(
      Option.when(last.get("command") != steps(op)._1)(s"log command ${last.get("command")}"),
      Option.when(last.get("status") != "ok")(s"log status ${last.get("status")}"),
      Option.when(n("n_output") != expectedOutput(op))(
        s"log n_output ${n("n_output")}, expected ${expectedOutput(op)}"),
      expectedInput.get(op).filter(_ != n("n_input")).map(w =>
        s"log n_input ${n("n_input")}, expected $w")).flatten
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  def warm(op: String): Option[String] = {
    run(op)
    val got: Map[String, Long] = op match {
      case "subset_aoi" =>
        spark.read.parquet(s"$out/aoi").groupBy("aoi").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      case "rasterize" =>
        val r = spark.read.parquet(s"$out/raster")
          .agg(count(lit(1)), sum("n"), sum("sum")).head()
        Map("cells" -> r.getLong(0), "n" -> r.getLong(1), "sum" -> r.getLong(2))
      case _ =>
        Map("rows" -> spark.read.parquet(steps(op)._2("output")).count())
    }
    val want: Map[String, Long] = op match {
      case "subset_aoi" => aoiRows
      case "rasterize" => Map("cells" -> num(exp, "raster_cells"),
        "n" -> num(exp, "raster_n"), "sum" -> num(exp, "raster_sum"))
      case _ => Map("rows" -> expectedOutput(op))
    }
    val errs = (if (got == want) Nil else Seq(s"output $got, expected $want")) ++ check(op)
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  def rowsOut(op: String): Long =
    if (op == "subset_aoi") aoiRows.values.sum else expectedOutput(op)

  override def extraRead(op: String): (Long, Long) = op match {
    case "pipeline_l2a" => (num(spec.get("granule_bytes"), "L2A"), num(spec.get("shots"), "L2A"))
    case "pipeline_l2b" => (num(spec.get("granule_bytes"), "L2B"), num(spec.get("shots"), "L2B"))
    case _ => (0L, 0L)
  }

  override def written(op: String): (Long, Long) = {
    val root = Paths.get(steps(op)._2("output"))
    val files = Files.walk(root).iterator().asScala.filter { p =>
      Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")
    }.toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }
}
