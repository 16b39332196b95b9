package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

final case class Metric(name: String, value: Double, unit: String, n: Int)

/** What one workload run reports: operation counts for the result line,
  * end-to-end and per-layer metrics, correctness-gate lines, and a
  * human-readable report. `extra` holds metrics that are reported but
  * not gated; `gatesOk` is false when a check that is not an operation
  * (generator determinism, quarantine count) failed. */
final case class Result(attempted: Int, failed: Int, e2e: Seq[Metric], layers: Seq[Metric],
    gates: Seq[String], report: Seq[String], extra: Seq[Metric] = Nil, gatesOk: Boolean = true)

final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, work: Path, digests: Map[String, String], cores: Int) {
  val spans = new Spans(spark.sparkContext, enabled = trace)
  val noSpans = new Spans(spark.sparkContext, enabled = false)
  val probe = new Probe(spark, spans)
}

/** Benchmark entry point: one process, one `local[cores]` session, one
  * closed-loop client (the next operation starts when the previous one
  * has returned).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --digests FILE --per-layer NAME=UNIT,...
  *        perfbench.Main --record OUT --data DIR --work DIR
  *
  * Prints a report on stderr and, as the last line of stdout, one JSON
  * object {correct, attempted, failed, metrics}: the end-to-end metrics
  * untraced, the per-layer metrics traced, in the order and with the
  * units `--per-layer` gives (BENCHMARK.json's list), then any others
  * the workload measures (`cdc_ingest`'s). */
object Main {
  /** `graft.Bench`'s session, plus directories kept inside `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark
  }

  /** Per-layer metrics every workload has: Spark work counted by the
    * job listener, planning time, JVM GC and heap. `wallS` is the traced
    * section's wall time, the base of `core_busy_share`. */
  def commonLayers(ctx: Ctx, wallS: Double): Seq[Metric] = {
    val p = ctx.probe
    val runS = p.runMs.get / 1000.0
    Seq(
      Metric("queries.jobs", p.jobs.get.toDouble, "count", 1),
      Metric("queries.stages", p.stages.get.toDouble, "count", 1),
      Metric("queries.tasks", p.tasks.get.toDouble, "count", 1),
      Metric("queries.task_cpu_s", p.cpuNs.get / 1e9, "s", 1),
      Metric("queries.task_run_s", runS, "s", 1),
      Metric("queries.core_busy_share", if (wallS > 0) runS / (ctx.cores * wallS) else 0.0, "share", 1),
      Metric("queries.shuffle_read_mb", p.shuffleRead.get / 1048576.0, "MB", 1),
      Metric("queries.shuffle_write_mb", p.shuffleWrite.get / 1048576.0, "MB", 1),
      Metric("queries.spill_mb", p.spill.get / 1048576.0, "MB", 1),
      Metric("queries.plan_ms", p.planMs.sum, "ms", 1),
      Metric("jvm.gc_ms", p.gcTotalMs.toDouble, "ms", 1),
      Metric("jvm.heap_peak_mb", p.heapPeakMb, "MB", 1))
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad arguments near ${a.mkString(" ")}")
    }.toMap

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    a.get("record") match {
      case Some(out) => record(a("data"), Paths.get(out), work)
      case None => bench(a, work)
    }
  }

  private def bench(a: Map[String, String], work: Path): Unit = {
    val workload = a("workload")
    val perLayer = a("per-layer").split(",").toSeq.map(_.split("=", 2)).map { case Array(n, u) => n -> u }
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val digests = Digests.read(Paths.get(a("digests")))
    val spark = session(cores, work)
    def uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sessionS = uptimeS
    val ctx = Ctx(spark, workload, a("seed").toLong, a("seconds").toInt, trace, a("data"),
      work, digests, cores)
    val res = workload match {
      case "cdc_ingest" => CdcWorkload.run(ctx)
      case _ => QueryWorkload.run(ctx)
    }
    val doneS = uptimeS
    spark.stop()
    val rss = Metric("peak_rss_mb", Stats.peakRssMb(), "MB", 1)
    val e2e = res.e2e :+ rss
    val layers = perLayer.map { case (n, u) => res.layers.find(_.name == n).getOrElse(Metric(n, 0.0, u, 0)) } ++
      res.layers.filterNot(m => perLayer.exists(_._1 == m.name))

    val err = Console.err
    err.println(s"== $workload seed=${ctx.seed} seconds=${ctx.seconds} trace=${a("trace")} local[$cores]")
    err.println(f"JVM: session ready at $sessionS%.1f s, workload done at $doneS%.1f s, stopped at $uptimeS%.1f s")
    err.println("end-to-end (untraced; n = samples):")
    e2e.foreach(m => err.println(f"  ${m.name}%-36s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}"))
    if (res.extra.nonEmpty) {
      err.println("also reported, not gated:")
      res.extra.foreach(m => err.println(f"  ${m.name}%-36s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}"))
    }
    if (trace) {
      err.println("per-layer (traced):")
      layers.foreach(m => err.println(f"  ${m.name}%-36s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}"))
      err.println("self time by layer (ms): layer, total, self, spans")
      Spans.selfTime(ctx.spans.all).foreach { case (l, tot, self, n) =>
        err.println(f"  $l%-16s $tot%12.1f $self%12.1f $n%6d")
      }
    }
    err.println("correctness gates:")
    res.gates.foreach(g => err.println(s"  $g"))
    err.println(f"failures: ${res.failed}/${res.attempted} operations (failed_ratio ${res.failed.toDouble / res.attempted}%.4f)")
    res.report.foreach(err.println)

    val shown = if (trace) layers else e2e
    val metrics = shown.map(m => s"${jsonStr(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${jsonStr(m.unit)}}")
      .mkString("{", ", ", "}")
    val line = s"""{"correct": ${res.failed == 0 && res.gatesOk}, "attempted": ${res.attempted}, "failed": ${res.failed}, "metrics": $metrics}"""
    writeDetails(work, ctx, res, e2e, layers, line)
    println(line)
  }

  /** Full record of a run, including every span when traced. */
  private def writeDetails(work: Path, ctx: Ctx, res: Result, e2e: Seq[Metric],
      layers: Seq[Metric], line: String): Unit = {
    def ms(xs: Seq[Metric]) = xs.map(m =>
      s"${jsonStr(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${jsonStr(m.unit)}, \"n\": ${m.n}}")
      .mkString("{", ", ", "}")
    val spans = ctx.spans.all.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${jsonStr(s.layer)}, "name": ${jsonStr(s.name)}, "start_ms": ${num(s.startMs)}, "end_ms": ${num(s.endMs)}}""")
    val self = Spans.selfTime(ctx.spans.all).map { case (l, t, s, n) =>
      s"""{"layer": ${jsonStr(l)}, "total_ms": ${num(t)}, "self_ms": ${num(s)}, "spans": $n}""" }
    val body =
      s"""{"result": $line,
         | "end_to_end": ${ms(e2e)},
         | "extra": ${ms(res.extra)},
         | "per_layer": ${if (ctx.trace) ms(layers) else "{}"},
         | "gates": ${res.gates.map(jsonStr).mkString("[", ", ", "]")},
         | "report": ${res.report.map(jsonStr).mkString("[", ", ", "]")},
         | "self_time": ${self.mkString("[", ", ", "]")},
         | "spans": ${spans.mkString("[\n", ",\n", "]")}}
         |""".stripMargin
    val dir = Files.createDirectories(work.resolve("results"))
    Files.write(dir.resolve(s"${ctx.workload}-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}.json"),
      body.getBytes(UTF_8))
  }

  /** Writes each query key's result as parquet under `out` together with
    * the digest the benchmark computes for it and the key's DuckDB oracle
    * SQL, for `record_digests.py` to check against the oracle. */
  private def record(data: String, out: Path, work: Path): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    Files.createDirectories(out)
    val keys = QueryWorkload.scanFullKeys ++ QueryWorkload.fixpointKeys ++ QueryWorkload.lakeKeys
    val lines = keys.map { k =>
      val (df, digest) = QueryWorkload.observed(SparkEntry.queries(k)(spark, data))
      df.write.mode("overwrite").parquet(out.resolve(k).toString)
      spark.catalog.clearCache()
      s"$k\t${digest()}"
    }
    Files.write(out.resolve("digests.tsv"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",\n", "}")
    Files.write(out.resolve("oracle_sql.json"), oracles.getBytes(UTF_8))
    spark.stop()
  }
}

/** Recorded digests: one `key<TAB>digest` line per oracle-verified key. */
object Digests {
  def read(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.split("\t", 3)).collect { case Array(k, d, _*) => k -> d }.toMap
}
