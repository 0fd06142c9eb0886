package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Entry point of one benchmark run (see `bench/run.py`, which builds the
  * classpath and launches this JVM).
  *
  *   --workload sql_q|connectors --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --scale LABEL --expected DIR [--record 1]
  *
  * Writes `result-<workload>-<seed>-<trace>.json` (the result line) and a
  * detail file with run context to `--out`, and prints the result line last. */
object Main {
  def main(args: Array[String]): Unit = {
    val s = Settings.parse(args)
    Files.createDirectories(s.out)
    val loadStart = Harness.loadavg()
    val h = new Harness(s)
    val metrics =
      try s.workload match {
        case "sql_q" => QueryWorkload.run(h)
        case "connectors" => ConnectorWorkload.run(h)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally h.stopSession()
    // a run on a slower machine reports its times scaled to the reference
    // speed; the raw times stay in the detail file
    val factor = h.speedFactor
    val measured = metrics.map { case (k, v) =>
      k -> (if (Harness.Normalized(k.stripPrefix("trace."))) v * factor else v)
    } + ("jvm.peak_rss_mb" -> Harness.peakRssMb())
    val names = if (s.trace) Metrics.PerLayer else Metrics.EndToEnd
    val all = names.map(n => n -> measured.getOrElse(n, 0.0)).toMap
    val units = Units.of(all.keys)
    val attempted = h.results.size
    val failed = h.results.count(!_.ok)
    val result = Map(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> all.toSeq.sortBy(_._1).map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }.toMap)
    val tag = s"${s.workload}-${s.seed}-${if (s.trace) 1 else 0}"
    val spans = h.writeSpans()
    val detail = Map(
      "workload" -> s.workload, "seed" -> s.seed, "seconds" -> s.seconds, "trace" -> s.trace,
      "scale" -> s.scale, "cpus" -> s.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "loadavg_start" -> loadStart, "loadavg_end" -> Harness.loadavg(),
      "spans" -> spans.map(_.toString),
      "all_measured" -> measured.toSeq.sortBy(_._1).toMap,
      "raw_times" -> metrics.filter(m => Harness.Normalized(m._1.stripPrefix("trace."))),
      "speed_factor" -> factor,
      "kernel_cpu_ms" -> h.kernelCpuMs.toSeq,
      "self_ms" -> (if (s.trace) h.tracer.selfMs.toSeq.sortBy(_._1).toMap else Map.empty),
      "extra" -> h.extraDetail,
      "failures" -> h.results.filterNot(_.ok).map(r => Map("op" -> r.name, "phase" -> r.phase,
        "error" -> r.error.getOrElse(""))),
      "result" -> result)
    Files.write(s.out.resolve(s"detail-$tag.json"), Json.write(detail).getBytes(StandardCharsets.UTF_8))
    val line = Json.write(result)
    Files.write(s.out.resolve(s"result-$tag.json"), (line + "\n").getBytes(StandardCharsets.UTF_8))
    println(line)
  }
}

/** The metric names of the result line: end-to-end metrics in untraced
  * runs, per-layer metrics in traced runs. Every workload reports every name;
  * a layer a workload does not use reports 0. */
object Metrics {
  val EndToEnd: Seq[String] = Seq("setup_s", "suite_cold_s", "suite_warm_s", "heap_retained_mb")
  val PerLayer: Seq[String] = Seq(
    "queries.build_ms", "queries.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.busy_share",
    "operators.task_ms", "operators.cpu_ms", "operators.gc_ms", "operators.skew_ratio",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records", "shuffle.fetch_wait_ms",
    "shuffle.spill_bytes",
    "cache.scans", "cache.stored_mb", "cache.dup_warnings",
    "duckdb.suite_s", "duckdb.ratio",
    "http.requests", "http.bytes_in", "http.bytes_out", "http.retries", "http.wait_ms",
    "http.wait_share", "server.busy_ms", "server.busy_share",
    "odata.plan_ms", "odata.plan_requests", "odata.pages", "odata.rows_fetched",
    "odata.bytes_fetched", "odata.selectivity", "odata.charset_ms", "odata.parse_ms",
    "odata.decode_ms",
    "odp.fetch_ms", "odp.pages_spilled", "odp.decode_ms",
    "deltashare.files", "deltashare.download_ms",
    "writes.encode_ms", "writes.wait_ms", "writes.rows_per_request",
    "connectors.scan_rows_per_s", "connectors.write_rows_per_s",
    "connectors.scan_requests_per_1k_rows", "connectors.write_requests_per_1k_rows",
    "connectors.lookup_p50_ms", "connectors.lookup_p95_ms",
    "jvm.peak_rss_mb", "trace.suite_cold_s", "trace.suite_warm_s")
}

/** Unit of each reported metric, by name. */
object Units {
  def of(names: Iterable[String]): Map[String, String] = names.map { n =>
    val base = n.stripPrefix("trace.")
    n -> (base match {
      case x if x.endsWith("_mb") => "MB"
      case x if x.endsWith("_ms") => "ms"
      case x if x.endsWith("rows_per_s") => "rows/s"
      case x if x.endsWith("_s") => "s"
      case x if x.endsWith("_bytes") || x.endsWith("bytes_in") || x.endsWith("bytes_out") ||
        x.endsWith("bytes_fetched") => "bytes"
      case x if x.endsWith("ratio") || x.endsWith("share") || x.endsWith("selectivity") => "ratio"
      case _ => "count"
    })
  }.toMap
}
