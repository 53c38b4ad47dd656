package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`,
  * run from the root of a checkout.
  *
  * A run builds its inputs from the seed (several times; set-up time is
  * their median), warms up, then repeats the workload's operation for
  * `--seconds`, checking every output. With `--trace 0` it reports the
  * end-to-end metrics. With `--trace 1` the first half of the window
  * runs untraced and the second half traced, and it reports the
  * per-layer metrics plus the tracing overhead between the halves.
  *
  * The full record is written under `.bench_build/out/` and printed
  * after Spark has stopped; the last line printed is the short result
  * object. The exit code is 1 when any output check failed.
  */
object Main {
  val Workloads = Seq("etl_batch", "curation_x10")
  val SetupRounds = 3
  /** Operations at least in a window (each half of a traced run),
    * however short `--seconds` is: with three, the median drops one
    * operation that is still warming up. */
  val MinOps = 3
  /** First operation index of the traced half and of the warm-up, so
    * that their inputs differ from the untraced half's. */
  val TracedFrom = 120000
  val WarmFrom = 240000

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1")
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** A metric's unit, read off its name. */
  def unitOf(name: String): String = name match {
    case "docs_per_s" => "1/s"
    case x if x.endsWith("_ms") => "ms"
    case x if x.endsWith("_s") => "s"
    case x if x.endsWith("_mb") || x.endsWith("_mb_rewritten") => "MB"
    case x if x.endsWith("_frac") || x.endsWith("_per_field") => "ratio"
    case _ => "count"
  }

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set of this JVM in MB (VmHWM), or -1 off Linux. */
  private def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => -1.0 }

  private def gitHead(root: Path): String =
    try {
      val head = Files.readString(root.resolve(".git/HEAD")).trim
      if (head.startsWith("ref: ")) Files.readString(root.resolve(".git").resolve(head.drop(5))).trim
      else head
    } catch { case _: Exception => "unknown" }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val root = Paths.get("").toAbsolutePath
    val build = root.resolve(".bench_build")
    val work = build.resolve(s"work/${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}")
    Workload.deleteTree(work)
    Files.createDirectories(work)
    val out = build.resolve("out")
    Files.createDirectories(out)
    val loadBefore = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val w: Workload = args.workload match {
      case "etl_batch" => new EtlBatch(spark, args.seed, work)
      case "curation_x10" => new CurationX10(spark, args.seed, work)
    }

    val setupS = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    try w.warm() catch { case e: Exception => errors += s"warm-up: $e" }

    var attempted = 0
    var failed = 0
    def window(seconds: Double, trace: Option[Trace], from: Int, minOps: Int): Seq[Sample] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Sample]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = from
      while (i - from < minOps || System.nanoTime() < deadline) {
        attempted += 1
        try got ++= trace.fold(w.op(i, None))(t => t.span("op", i)(w.op(i, trace)))
        catch {
          case e: Exception =>
            failed += 1
            if (errors.size < 20) errors += s"op $i: $e"
        }
        i += 1
        // localCheckpoint blocks of finished operations are freed when
        // their plans are collected; collect between operations, untimed
        System.gc()
      }
      got.toSeq
    }

    val (samples, layerMetrics) =
      if (!args.trace) (window(args.seconds, None, 0, MinOps), Map.empty[String, Double])
      else {
        val plain = window(args.seconds / 2.0, None, 0, MinOps)
        val t = new Trace(spark)
        t.start()
        val traced = window(args.seconds / 2.0, Some(t), TracedFrom, MinOps)
        t.stop()
        val layers = try Layers.of(w, t, traced, plain) catch {
          case e: Exception => errors += s"layers: $e"; Map.empty[String, Double]
        }
        Files.write(out.resolve(s"spans-${args.workload}-s${args.seed}.jsonl"),
          t.allSpans.map(s => Json.write(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
            "end_ns" -> s.end, "parent" -> s.parent, "request" -> s.request, "gc_ms" -> s.gcMs)))
            .mkString("", "\n", "\n")
            .getBytes(UTF_8))
        (traced, layers)
      }

    val endToEnd: Map[String, Double] =
      if (samples.isEmpty) Map.empty
      else try w.endToEnd(samples) + ("setup_s" -> Stats.median(setupS))
      catch { case e: Exception => errors += s"metrics: $e"; Map.empty }
    val details: Map[String, Any] =
      if (samples.isEmpty) Map.empty else try w.details(samples) catch { case e: Exception => Map("error" -> e.toString) }

    val maxHeapMb = Runtime.getRuntime.maxMemory / 1048576.0
    spark.stop()
    val loadAfter = loadavg()

    // the record keeps every figure; the result carries the listed names
    val metrics: Map[String, Double] =
      if (args.trace) layerMetrics.filter { case (k, _) => Layers.Names.contains(k) } else endToEnd
    val correct = failed == 0 && errors.isEmpty && metrics.nonEmpty
    val record = Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "fail_frac" -> failed.toDouble / math.max(attempted, 1),
      "errors" -> errors.toSeq,
      "stamp" -> Map("nproc" -> cores, "spark_cores" -> cores, "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAfter, "max_heap_mb" -> maxHeapMb, "git_head" -> gitHead(root),
        "seed" -> args.seed, "llm_service_ms" -> BenchLLM.ServiceMillis),
      "peak_rss_mb" -> peakRssMb(),
      "setup_s_each" -> setupS,
      "samples_ms" -> samples.groupBy(_.kind).map { case (k, v) => k -> v.map(_.nanos / 1e6) },
      "end_to_end" -> endToEnd, "details" -> details, "per_layer" -> layerMetrics)
    val full = Json.write(record)
    val file = out.resolve(s"record-${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}.json")
    Files.write(file, (full + "\n").getBytes(UTF_8))
    Workload.deleteTree(work)
    errors.foreach(e => System.err.println(s"[perfbench] $e"))
    println(s"RECORD $full")
    println(Json.write(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> unitOf(k)) }: _*))))
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}

