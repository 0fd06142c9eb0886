package graftbench

import graft.{QueryDef, SparkEntry}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The `sql_q` workload: the 22 host SQL queries and [[QueryWorkload.PipelineOps]].
  * The seed permutes the query order; the tables are fixed.
  *
  * Each query runs as a closed loop with one client: a cold call (every
  * cached table and persisted RDD cleared before the clock starts) that
  * returns its rows to the client and is checked against the expected row
  * count and digest, then an immediate warm repeat forced through the `noop`
  * sink. A query's cold and warm times are the medians of its samples. */
object QueryWorkload {

  /** Besides the 22 host queries: one pipeline operator whose intermediates
    * go through `CacheScope` and whose time is executor compute and shuffle,
    * so that the cache, operator and shuffle layers are exercised too. */
  val PipelineOps: Seq[String] = Seq("p57_quality_classifier")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def queries: Seq[QueryDef] =
    SparkEntry.allQueries.filter(q => q.name.startsWith("q") || PipelineOps.contains(q.name))
      .sortBy(_.name)

  def run(h: Harness): Map[String, Double] = {
    val s = h.s
    val qs = new scala.util.Random(s.seed).shuffle(queries)
    val expected = Expected.load(s.expected, s.scale)
    val recorded = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    val recordDir = s.out.resolve(s"record-${s.scale}-${s.workload}")

    def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    // set-up, five times: a session and the schema of every table
    val setupS = h.timedSetup(5) { spark =>
      Tables.foreach(t => spark.read.parquet(s"${s.data}/$t.parquet").schema)
    }
    val spark = h.spark
    force(queries.head.spark(spark, s.data)) // untimed warm-up, the same for every seed
    h.layers.foreach(_ => Harness.countLogEvents("Asked to cache already cached data",
      h.dupCacheWarnings))

    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    var storedMb = 0.0
    def sampleStorage(): Unit = if (s.trace) {
      val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      storedMb = math.max(storedMb, b / 1048576.0)
    }

    def build(q: QueryDef, op: Long): DataFrame =
      h.tracer.span("build", op)(h.tagged(op)(q.spark(spark, s.data)))

    def cold(q: QueryDef): OpResult = {
      clearCaches()
      h.op(q.name, "cold") { op =>
        val df = build(q, op)
        h.tracer.span("plan", op)(df.queryExecution.executedPlan)
        val rows = h.tracer.span("execute", op)(h.tagged(op)(df.collect()))
        if (s.record) df.write.mode("overwrite").parquet(recordDir.resolve(q.name).toString)
        (df.columns.toSeq, rows.toSeq)
      } { case (cols, rows) =>
        val got = (rows.size.toLong, Digest.of(cols, rows))
        if (s.record) { recorded(q.name) = got; None }
        else expected.get(q.name) match {
          case None => Some("no expected result recorded")
          case Some(e) if e != got => Some(s"expected rows/digest $e, got $got")
          case _ => None
        }
      }
    }

    def warm(q: QueryDef): OpResult =
      h.op(q.name, "warm") { op =>
        val df = build(q, op)
        h.tracer.span("execute", op)(h.tagged(op)(force(df)))
      }(_ => None)

    h.extraDetail("pre_timed_s") = (System.nanoTime() - h.jvmStart) / 1e9
    val t0 = System.nanoTime()
    val coldMs, warmMs = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    val failed = scala.collection.mutable.Set[String]()
    def note(q: QueryDef, r: OpResult, into: scala.collection.mutable.Map[String, Vector[Double]]): Unit = {
      r.ms.foreach(ms => into(q.name) :+= ms)
      if (!r.ok) failed += q.name
      sampleStorage()
    }
    // one cycle: per query a cold call, then its warm repeat; cycles repeat
    // only while --seconds has not elapsed. Between queries, outside any
    // timing: a full collection, sampling the heap retained with this
    // query's caches pinned, and a run of the speed kernel.
    val heapMb = scala.collection.mutable.ArrayBuffer(h.collectHeap())
    do qs.foreach { q =>
      note(q, cold(q), coldMs)
      note(q, warm(q), warmMs)
      heapMb += h.collectHeap()
      h.calibrate()
    } while ((System.nanoTime() - t0) / 1e9 < s.seconds)

    h.extraDetail("timed_s") = (System.nanoTime() - t0) / 1e9
    if (s.record) {
      Expected.save(s.expected, s.scale, recorded.toMap)
      // the oracle SQL beside the recorded outputs, as tools/selfcheck.py reads them
      val oracle = qs.flatMap(q => q.oracle.map(q.name -> _)).sortBy(_._1).toMap
      Files.write(Files.createDirectories(recordDir).resolve("oracle_sql.json"),
        Json.write(oracle).getBytes(StandardCharsets.UTF_8))
    }
    val ok = qs.filterNot(q => failed(q.name))
    val suiteWarm = ok.map(q => Stats.median(warmMs(q.name))).sum / 1000
    for (q <- ok; (kind, m) <- Seq("cold" -> coldMs, "warm" -> warmMs); (ms, i) <- m(q.name).zipWithIndex)
      h.extraDetail(s"${kind}_ms.${q.name}.$i") = ms
    val endToEnd = Map(
      "setup_s" -> setupS,
      "suite_cold_s" -> ok.map(q => Stats.median(coldMs(q.name))).sum / 1000,
      "suite_warm_s" -> suiteWarm,
      // the median, not the maximum: Spark's cleaner releases broadcast and
      // shuffle blocks asynchronously after a collection
      "heap_retained_mb" -> Stats.median(heapMb.toSeq))
    if (!s.trace) endToEnd
    else {
      SparkLayers.drain(spark)
      val oracle = qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
      val duck = DuckDb.suiteSeconds(h, oracle)
      endToEnd.map { case (k, v) => s"trace.$k" -> v } ++
        sparkLayers(h, storedMb) ++
        Map("duckdb.suite_s" -> duck.getOrElse(0.0),
          "duckdb.ratio" -> duck.filter(_ > 0).map(suiteWarm / _).getOrElse(0.0))
    }
  }

  /** Spark-side per-layer figures of a traced run, summed over the run. */
  def sparkLayers(h: Harness, storedMb: Double): Map[String, Double] = {
    val l = h.layers.get
    val spans = h.tracer.all
    val buildIds = spans.filter(_.name == "build").map(_.id).toSet
    val executeMs = spans.filter(_.name == "execute").map(_.durNs).sum / 1e6
    val taskMs = l.taskNs.get / 1e6
    Map(
      "queries.build_ms" -> h.tracer.totalMs("build"),
      "queries.build_jobs" -> spans.count(sp => sp.name == "job" && buildIds(sp.parent)).toDouble,
      "catalyst.analysis_ms" -> l.analysisMs.get.toDouble,
      "catalyst.optimization_ms" -> l.optimizationMs.get.toDouble,
      "catalyst.planning_ms" -> (l.planningMs.get + h.tracer.totalMs("plan")),
      "scheduler.jobs" -> l.jobs.get.toDouble,
      "scheduler.stages" -> l.stages.get.toDouble,
      "scheduler.tasks" -> l.tasks.get.toDouble,
      "scheduler.busy_share" -> (if (executeMs > 0) taskMs / (executeMs * h.s.cpus) else 0.0),
      "operators.task_ms" -> taskMs,
      "operators.cpu_ms" -> l.cpuNs.get / 1e6,
      "operators.gc_ms" -> l.gcMs.get.toDouble,
      "operators.skew_ratio" -> l.skewRatio,
      "shuffle.write_bytes" -> l.shuffleWrite.get.toDouble,
      "shuffle.read_bytes" -> l.shuffleRead.get.toDouble,
      "shuffle.records" -> l.shuffleRecords.get.toDouble,
      "shuffle.fetch_wait_ms" -> l.fetchWaitMs.get.toDouble,
      "shuffle.spill_bytes" -> l.spill.get.toDouble,
      "cache.scans" -> l.cacheScans.get.toDouble,
      "cache.stored_mb" -> storedMb,
      "cache.dup_warnings" -> h.dupCacheWarnings.get.toDouble)
  }
}

/** Expected row counts and digests, one JSON file per data scale:
  * `{"q01_pricing_summary": {"rows": 4, "digest": "..."}, ...}`. */
object Expected {
  private def file(dir: java.nio.file.Path, scale: String) = dir.resolve(s"$scale.json")

  def load(dir: java.nio.file.Path, scale: String): Map[String, (Long, String)] = {
    val f = file(dir, scale)
    if (!Files.exists(f)) Map.empty
    else {
      val root = Json.read(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      val it = root.fields()
      val b = Map.newBuilder[String, (Long, String)]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
      }
      b.result()
    }
  }

  /** Merges `got` into the scale's file. Other workloads' entries stay, and
    * so does the oracle mark of an entry whose count and digest did not change. */
  def save(dir: java.nio.file.Path, scale: String, got: Map[String, (Long, String)]): Unit = {
    val old = load(dir, scale)
    val marks: Map[String, String] =
      if (!Files.exists(file(dir, scale))) Map.empty
      else {
        val root = Json.read(new String(Files.readAllBytes(file(dir, scale)), StandardCharsets.UTF_8))
        old.keys.flatMap(k => Option(root.get(k).get("oracle")).map(k -> _.asText)).toMap
      }
    val merged = (old ++ got).toSeq.sortBy(_._1).map { case (k, (n, d)) =>
      val keep = marks.get(k).filter(_ => old.get(k).contains((n, d)))
      k -> (Map("rows" -> n, "digest" -> d) ++ keep.map("oracle" -> _))
    }
    Files.createDirectories(dir)
    val body = merged.map { case (k, v) => s"  ${Json.write(k)}: ${Json.write(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(file(dir, scale), body.getBytes(StandardCharsets.UTF_8))
  }
}

/** The DuckDB reference pass: the same oracle SQL on the same files, in a
  * `python3` subprocess started after the Spark passes, so it never overlaps
  * a timed region. One untimed warm-up execution per query, then one timed
  * execution. */
object DuckDb {
  def suiteSeconds(h: Harness, oracle: Map[String, String]): Option[Double] =
    if (oracle.isEmpty) None
    else try {
      val sqlFile = h.s.out.resolve(s"oracle-${h.s.workload}.json")
      Files.write(sqlFile, Json.write(oracle.toSeq.sortBy(_._1).toMap).getBytes(StandardCharsets.UTF_8))
      val script = Harness.getClass.getResourceAsStream("/graftbench/duckdb_pass.py")
      val py = h.s.out.resolve("duckdb_pass.py")
      Files.write(py, script.readAllBytes())
      val p = new ProcessBuilder("python3", py.toString, h.s.data, sqlFile.toString,
        h.s.out.resolve("duckdb-tmp").toString).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      if (p.waitFor() != 0) None
      else out.linesIterator.toSeq.lastOption.map(_.trim.toDouble)
    } catch { case NonFatal(_) => None }
}
