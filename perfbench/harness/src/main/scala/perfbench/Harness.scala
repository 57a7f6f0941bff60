package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{RunPipeline, SparkEntry}
import graft.sources.Sources

/** The benchmark's JVM program: one JVM, one session, one client
  * thread, one operation at a time. Everything is timed from outside the
  * program, around calls into its public functions; nothing under graft.*
  * is changed or instrumented.
  *
  * Usage: Harness <pipeline|queries|execute> key=value...
  *   common:   result=<json file> spans=<jsonl file> seconds=<n> trace=<0|1>
  *   pipeline: in=<world dir> out=<dir> [whitelist=<json file>]
  *   queries:  data=<table dir> names=<q1,q2,...> check=<dir>
  *   execute:  jobs=<in:out[:whitelist],...> (untimed; for pinning digests)
  *
  * The result file holds raw samples (every operation with its phase and
  * time, the traced counts); perfbench/run.py turns them into metrics.
  */
object Harness {

  val Cpus = 4

  /** The session RunPipeline.main and Bench build, at local[4]; Spark's
    * scratch files stay under `localDir`, inside the checkout.
    */
  def session(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench's untimed warm-up
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Peak resident memory of this JVM (Linux VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val kind = args.head
    val opt = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val spark = session(opt("local"))
    val readyEpochS = Clock.nowMs / 1000.0
    val spans = new Spans(opt.getOrElse("run", kind))
    val listeners = new Listeners(spark)
    val out = ArrayBuffer[(String, Any)](
      "ready_epoch_s" -> readyEpochS,
      "context" -> Map(
        "master" -> s"local[$Cpus]",
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "nproc" -> Runtime.getRuntime.availableProcessors()))
    kind match {
      case "pipeline" =>
        out ++= Pipeline(spark, spans, listeners, opt, seconds, trace).run()
      case "queries" =>
        out ++= Queries(spark, spans, listeners, opt, seconds, trace).run()
      case "execute" =>
        // plain RunPipeline.execute runs, one per in:out[:whitelist] job
        opt("jobs").split(",").foreach { job =>
          val Array(in, dir, wl @ _*) = job.split(":")
          spark.catalog.clearCache()
          RunPipeline.execute(spark, in, dir, wl.headOption)
        }
    }
    out += "peak_rss_mb" -> peakRssMb
    Files.write(Paths.get(opt("result")), Json(out.toMap).getBytes(UTF_8))
    opt.get("spans").foreach { p =>
      // Spark jobs join the spans, under the innermost span they started in
      val all = spans.all
      val jobs = listeners.jobSpans.zipWithIndex.map { case (j, k) =>
        val parent = all.filter(s => s.start <= j.startMs && j.startMs <= s.end)
          .sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
        Span(all.size + k, s"job:${j.id}", j.startMs, j.endMs, parent, spans.run)
      }
      Files.write(Paths.get(p), (all ++ jobs).map(s => Json(Map(
        "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "run" -> s.run))).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  /** Untraced and traced operations in pairs, for `seconds` and at least
    * two pairs, alternating which goes first so that neither side is
    * always the warmer one; listeners are attached for traced ones only.
    */
  def alternate(seconds: Double, listeners: Listeners)(untraced: => Unit, traced: => Unit): Unit =
    repeat(seconds, 2) { i =>
      def t(): Unit = { listeners.attach(); traced; listeners.detach() }
      if (i % 2 == 0) { untraced; t() } else { t(); untraced }
    }

  /** Repeat `op` until `seconds` have passed, at least `min` times. */
  def repeat(seconds: Double, min: Int)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { op(i); i += 1 }
  }
}

/** `RunPipeline.execute` over one generated world. */
case class Pipeline(spark: SparkSession, spans: Spans, listeners: Listeners,
                    opt: Map[String, String], seconds: Double, trace: Boolean) {
  import Harness._

  private val inDir = opt("in")
  private val outDir = opt("out")
  private val whitelist = opt.get("whitelist").filter(_.nonEmpty)
  private val ops = ArrayBuffer[Map[String, Any]]()

  /** One timed pipeline run into `<out>/run`, from inputs on disk until
    * both sinks are written; the cache is cleared before it, untimed.
    */
  private def execute(phase: String): Span = {
    val target = new File(outDir, "run")
    delete(target)
    spark.catalog.clearCache()
    val (_, s) = spans("RunPipeline.execute") {
      RunPipeline.execute(spark, inDir, target.getPath, whitelist)
    }
    ops += Map("phase" -> phase, "seconds" -> s.seconds, "span" -> s.id)
    s
  }

  def run(): Seq[(String, Any)] = {
    spans("phase:cold")(execute("cold"))
    if (!trace) {
      spans("phase:warm")(repeat(seconds, 2)(_ => execute("warm")))
      return Seq("ops" -> ops.toSeq)
    }
    val traced = ArrayBuffer[Span]()
    spans("phase:traced")(alternate(seconds, listeners)(
      execute("untraced"), traced += execute("traced")))
    val decomposition = spans("phase:decompose")(decompose())._1
    Seq("ops" -> ops.toSeq,
      "windows" -> traced.map(listeners.window).toSeq,
      "decompose" -> decomposition)
  }

  private def fresh() = {
    spark.catalog.clearCache()
    Stages.compose(Stages.load(spark, inDir, whitelist))
  }

  /** The traced split: read spans per source, then the cumulative stage
    * prefixes networkLut → +propagate → +makeAssociations → +decorate →
    * +scoreHypotheses, each from inputs on disk with a cleared cache, then
    * both sinks materialised without writing and written for real. The
    * counts behind the stage ratios are taken last, untimed.
    */
  private def decompose(): Map[String, Any] = {
    val reads = Stages.inputs(Stages.load(spark, inDir, whitelist)).map { case (name, df) =>
      spark.catalog.clearCache()
      name -> spans(s"Sources.read:$name")(noop(df))._2.seconds
    }.toMap
    val prefixes = Seq[(String, Stages.Frames => DataFrame)](
      "networkLut" -> (_.lut),
      "propagate" -> (_.propagated),
      "makeAssociations" -> (_.assoc),
      "decorate" -> (_.associations),
      "scoreHypotheses" -> (_.drugDisease)).map { case (stage, frame) =>
        stage -> spans(s"DrugDisease.prefix:$stage") {
          noop(frame(fresh()))
        }._2.seconds
      }.toMap
    val materialise = spans("Sources.write:noop") {
      val f = fresh()
      noop(f.associations)
      noop(f.drugDisease)
    }._2.seconds
    val composed = new File(outDir, "composed")
    delete(composed)
    val write = spans("Sources.write") {
      val f = fresh()
      Sources.writeParquet(f.associations, s"${composed.getPath}/associations")
      Sources.writeJson(f.drugDisease, s"${composed.getPath}/drug_disease")
    }._2.seconds
    val f = fresh()
    val counts = Map(
      "keyed" -> f.keyed.count(), "propagated" -> f.propagated.count(),
      "groups" -> f.groups.count(), "kept" -> f.assoc.count(),
      "hypotheses" -> f.hypotheses.count(), "scored" -> f.drugDisease.count())
    spark.catalog.clearCache()
    Map("reads" -> reads, "prefixes" -> prefixes, "first_read" -> Stages.firstRead,
      "materialise_s" -> materialise, "write_s" -> write, "counts" -> counts)
  }
}

/** A pinned mix of registered queries under the Bench protocol: noop sink,
  * cache cleared between queries, a throwing query counted as failed and
  * never as a time.
  */
case class Queries(spark: SparkSession, spans: Spans, listeners: Listeners,
                   opt: Map[String, String], seconds: Double, trace: Boolean) {
  import Harness._

  private val data = opt("data")
  private val names = opt("names").split(",").toSeq
  private val modules: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Scalars" -> graft.queries.Scalars.queries,
    "LlmOps" -> graft.queries.LlmOps.queries,
    "SimSearch" -> graft.queries.SimSearch.queries,
    "Media" -> graft.queries.Media.queries,
    "Reference" -> graft.queries.Reference.queries)
    .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  // The benchmark's self-test names these to check the failure rule: one
  // query fails while it is built, one while it runs.
  private val registry = SparkEntry.queries ++ Map[String, (SparkSession, String) => DataFrame](
    "selftest_fails_construct" -> ((s, _) => s.range(1).select(col("no_such_column"))),
    "selftest_fails_execute" -> ((s, _) => s.range(1).select(raise_error(lit("selftest")))))
  private val ops = ArrayBuffer[Map[String, Any]]()
  private val traced = ArrayBuffer[Span]()

  /** One query: built, then written to `sink` (the noop sink unless the
    * result is kept for the output check).
    */
  private def query(phase: String, pass: Int, name: String,
                    sink: DataFrame => Unit = noop): Unit = {
    var construct = 0.0
    val (error, s) = spans(s"query:$name") {
      try {
        val (df, c) = spans("construct")(registry(name)(spark, data))
        construct = c.seconds
        spans("execute")(sink(df))
        None
      } catch { case e: Throwable => Some(e.toString.take(300)) }
    }
    spark.catalog.clearCache()
    ops += Map("phase" -> phase, "pass" -> pass, "name" -> name,
      "module" -> modules.getOrElse(name, "none"), "ok" -> error.isEmpty,
      "seconds" -> (if (error.isEmpty) s.seconds else -1.0),
      "construct_s" -> construct, "span" -> s.id) ++ error.map("error" -> _)
    if (phase == "traced") traced += s
  }

  private def pass(phase: String, index: Int): Unit =
    spans(s"pass:$phase")(names.foreach(n => query(phase, index, n)))

  /** The first pass in the fresh JVM also keeps every result, as parquet
    * under `check`, for the benchmark's digest check.
    */
  private def coldPass(): Unit = spans("pass:cold")(names.foreach { n =>
    val target = new File(opt("check"), n)
    delete(target)
    query("cold", 0, n, _.write.parquet(target.getPath))
  })

  def run(): Seq[(String, Any)] = {
    coldPass()
    var index = 1
    if (!trace) {
      repeat(seconds, 2) { _ => pass("warm", index); index += 1 }
    } else {
      alternate(seconds, listeners)(
        { pass("untraced", index); index += 1 },
        { pass("traced", index); index += 1 })
    }
    Seq("ops" -> ops.toSeq, "windows" -> traced.map(listeners.window).toSeq)
  }
}

/** Just enough JSON for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
