package graftbench

import graft.sources.deltashare.{DeltaShare, DeltaShareProfile}
import graft.sources.http.HttpCore
import graft.sources.odata.{ODataConf, ODataJson, ODataMeta}
import graft.streaming.OdpReader
import graft.writes.{ODataJsonBatch, RestWrites}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Seeded inputs of the `connectors` workload. */
final class ConnectorData(seed: Long, val n: Int) {
  private val rnd = new Random(seed)
  private val notes = Seq("plain", "Grüße aus Köln", "naïve façade", "Ærø", "")
  val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  val ids: IndexedSeq[Long] = rnd.shuffle((0 until n * 3).map(_.toLong)).take(n).sorted.toIndexedSeq
  val items: IndexedSeq[Array[Any]] = ids.map { id =>
    Array[Any](id, s"item-$id", s"cat${rnd.nextInt(10)}", rnd.nextInt(100),
      math.round(rnd.nextDouble() * 100000) / 100.0, t0 + rnd.nextInt(86400000) * 30L,
      rnd.nextBoolean(), notes(rnd.nextInt(notes.size)))
  }
  val lookupKeys: IndexedSeq[Long] = IndexedSeq.fill(2 * ConnectorData.Lookups)(ids(rnd.nextInt(n)))
  val joinKeys: Seq[Long] = rnd.shuffle(ids).take(20).sorted
  val odpInitial: IndexedSeq[Array[Any]] = items.take(n / 2).map(r => Array[Any](r(0), r(1), r(3)))
  val odpDelta: IndexedSeq[Array[Any]] = (odpInitial.take(n / 20).map(r => Array[Any](r(0), r(1), 1000)) ++
    (0 until n / 40).map(i => Array[Any](10L * n + i, s"new-$i", rnd.nextInt(100))))
  val shareRows: IndexedSeq[(Long, String, Double)] =
    (0 until n).map(i => (i.toLong, s"row-$i", math.round(rnd.nextDouble() * 1e6) / 100.0))
  def writeRows(pass: Int, count: Int): Seq[Row] = (0 until count).map { i =>
    Row(pass * 1000000L + i, s"w-$pass-$i", s"cat${i % 10}", i % 100, i * 1.5)
  }
}

object ConnectorData {
  /** Single-key lookups per pass; the cold and the first warm pass use
    * different keys. */
  val Lookups = 100
  val ItemCols = Seq(Col("id", "Edm.Int64"), Col("name", "Edm.String"), Col("category", "Edm.String"),
    Col("qty", "Edm.Int32"), Col("price", "Edm.Double"), Col("ts", "Edm.DateTimeOffset"),
    Col("flag", "Edm.Boolean"), Col("note", "Edm.String"))
  val SinkCols = Seq(Col("id", "Edm.Int64"), Col("name", "Edm.String"), Col("category", "Edm.String"),
    Col("qty", "Edm.Int32"), Col("price", "Edm.Double"))
  val OdpCols = Seq(Col("id", "Edm.Int64"), Col("name", "Edm.String"), Col("qty", "Edm.Int32"))
  val SinkSchema: StructType = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
    StructField("category", StringType), StructField("qty", IntegerType), StructField("price", DoubleType)))
}

/** The `connectors` workload: Spark reads from and writes to the in-process
  * [[StubServer]] through the program's OData, ODP, Delta Sharing and REST
  * connectors. The seed generates the dataset. One pass is the read mix
  * (v4 paged scan, v2 verbose scan, `$count`-planned parallel scan, keyset
  * fallback, filter and projection pushdown, join with a runtime `In`
  * filter, `$apply` group-by, ODP initial load plus delta, Delta Sharing)
  * and the write mix (per-row REST POST, OData INSERT through `$batch`,
  * UPDATE and DELETE through the OData catalog), each operation checked
  * against the seeded data or at the server, and single-key lookups, one at
  * a time. The cold pass comes first, then warm passes while `--seconds` has
  * not elapsed. */
object ConnectorWorkload {
  val ServiceMs = 2
  val Rows = 20000
  val SmokeRows = 2000
  val PageSize = 1000
  val InsertBatch = 50
  val WarmPasses = 1

  def run(h: Harness): Map[String, Double] = {
    val metrics = serveAndMeasure(h)
    // measured once the stub and the seeded data are released: the stub's
    // pre-rendered pages would otherwise make up most of the figure
    metrics + ("heap_retained_mb" -> h.settledHeapMb())
  }

  private def serveAndMeasure(h: Harness): Map[String, Double] = {
    val s = h.s
    val n = if (s.scale == "sf0.001") SmokeRows else Rows
    val data = new ConnectorData(s.seed, n)
    val threads = s.cpus
    var server: StubServer = null
    val work = s.out.resolve(s"connectors-work-${s.seed}")
    val shareDir = work.resolve("share-src")

    val setupS = h.timedSetup(5) { spark =>
      if (server != null) server.stop()
      server = new StubServer(ServiceMs, threads)
      populate(server, data, spark, shareDir)
      spark.conf.set("spark.sql.catalog.bw", "graft.sources.odata.ODataCatalog")
      spark.conf.set("spark.sql.catalog.bw.url", s"${server.base}/v4/svc")
    }
    val spark = h.spark
    read(spark, server, "v4", "Items").filter(col("id") === data.ids.head).collect() // warm-up
    try measure(h, spark, server, data, setupS, work)
    finally {
      server.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
  }

  private def populate(server: StubServer, d: ConnectorData, spark: SparkSession,
                       shareDir: java.nio.file.Path): Unit = {
    Seq(("v4", "Items", true), ("v4", "ItemsNoSkip", false), ("v2", "Items", true)).foreach {
      case (svc, name, skip) =>
        val es = new EntitySet(name, ConnectorData.ItemCols, "id", allowSkip = skip)
        d.items.foreach(es.insert)
        server.sets.put(s"$svc/$name", es)
    }
    server.sets.put("v4/Sink", new EntitySet("Sink", ConnectorData.SinkCols, "id", allowSkip = true))
    server.sets.put("v4/Replay", new EntitySet("Replay", ConnectorData.SinkCols, "id", allowSkip = true))
    server.odpCols = ConnectorData.OdpCols
    server.odpPages = d.odpInitial.grouped(PageSize).toSeq
    server.odpDelta = d.odpDelta
    if (!Files.exists(shareDir.resolve("_SUCCESS"))) {
      import spark.implicits._
      d.shareRows.toDF("id", "label", "amount").repartition(6).write.mode("overwrite")
        .parquet(shareDir.toString)
    }
    server.deltaShareSchema = StructType(Seq(StructField("id", LongType), StructField("label", StringType),
      StructField("amount", DoubleType))).json
    Files.list(shareDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => server.files.put(p.getFileName.toString, Files.readAllBytes(p)))
  }

  def read(spark: SparkSession, server: StubServer, svc: String, set: String,
           opts: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("odata").option("url", s"${server.base}/$svc/svc/$set")
      .option("pageSize", PageSize.toString).options(opts).load()

  private def itemRow(r: Array[Any]): Row =
    Row(r(0), r(1), r(2), r(3), r(4), new java.sql.Timestamp(r(5).asInstanceOf[Long]), r(6), r(7))

  private val ItemNames = ConnectorData.ItemCols.map(_.name)

  /** Compares a collected result with the expected rows by count and digest. */
  private def same(cols: Seq[String], got: Seq[Row], want: => Seq[Row]): Check = () => {
    val (g, w) = ((got.size, Digest.of(cols, got)), (want.size, Digest.of(cols, want)))
    if (g == w) None else Some(s"expected rows/digest $w, got $g")
  }

  /** A result check, run after the operation's clock has stopped. */
  private type Check = () => Option[String]

  /** One read or write operation of the mix: its name, how many rows it
    * returns or writes, and the call plus its check. */
  private final case class MixOp(name: String, write: Boolean, rows: Long,
                                 run: (Long, Int) => Check)

  private def measure(h: Harness, spark: SparkSession, server: StubServer, d: ConnectorData,
                      setupS: Double, work: java.nio.file.Path): Map[String, Double] = {
    val s = h.s
    import spark.implicits._
    def collectTimed(op: Long, df: => DataFrame): Seq[Row] = {
      val frame = h.tracer.span("plan", op)(h.tagged(op) { val f = df; f.queryExecution.executedPlan; f })
      h.tracer.span("execute", op)(h.tagged(op)(frame.collect().toSeq))
    }
    val items = d.items.map(itemRow)
    val par = Map("parallelism" -> s.cpus.toString,
      "partitionRows" -> ((d.n + s.cpus - 1) / s.cpus).toString)
    def scan(name: String, svc: String, set: String, opts: Map[String, String]) =
      MixOp(name, write = false, d.n, (op, _) =>
        same(ItemNames, collectTimed(op, read(spark, server, svc, set, opts)), items))
    val filtered = d.items.filter(r => r(2) == "cat3" && r(3).asInstanceOf[Int] > 50)
      .map(r => Row(r(0), r(4), r(1)))
    val joinSet = d.joinKeys.toSet
    val joined = d.items.filter(r => joinSet(r(0).asInstanceOf[Long])).map(itemRow)
    val tagOf = udf((k: Long) => if (joinSet(k)) "hit" else "miss")
    val itemById = d.ids.zip(items).toMap
    val lookupMs = scala.collection.mutable.ArrayBuffer[Double]()
    val planReq = new java.util.concurrent.atomic.AtomicLong
    val groups = d.items.groupBy(_(2)).toSeq.map { case (c, rs) =>
      Row(c, rs.map(_(3).asInstanceOf[Int].toLong).sum, rs.size.toLong)
    }
    val odpRow = (r: Array[Any]) => Row(r(0), r(1), r(2))
    val shareRows = d.shareRows.map { case (i, l, a) => Row(i, l, a) }
    val stateDir = (pass: Int) => work.resolve(s"odp-state-$pass").toString
    var odpPages = 0L
    val restN = 100
    val insertN = 1000
    val sink = server.sets.get("v4/Sink")

    val mix = Seq(
      scan("v4_paged_scan", "v4", "Items", Map.empty),
      scan("v2_verbose_scan", "v2", "Items", Map.empty),
      scan("count_parallel_scan", "v4", "Items", par),
      scan("keyset_fallback_scan", "v4", "ItemsNoSkip", par),
      MixOp("pushdown_scan", write = false, filtered.size, (op, _) =>
        same(Seq("id", "price", "name"), collectTimed(op, read(spark, server, "v4", "Items")
          .filter(col("category") === "cat3" && col("qty") > 50).select("id", "price", "name")), filtered)),
      MixOp("runtime_in_join", write = false, joined.size, (op, _) => {
        // the small side is selected on `tag`, an opaque function of the key,
        // so no static predicate on `id` can be inferred for the scan: only
        // the runtime In filter (dynamic pruning) can narrow what it fetches
        val dim = spark.range(0L, 3L * d.n).toDF("k").withColumn("tag", tagOf(col("k")))
          .filter(col("tag") === "hit")
        val served0 = server.rowsServed.get
        val got = collectTimed(op, read(spark, server, "v4", "Items")
          .join(broadcast(dim), col("id") === col("k")).drop("k", "tag"))
        val served = server.rowsServed.get - served0
        val rowsOk = same(ItemNames, got, joined)
        () => rowsOk().orElse(
          if (served == joined.size) None
          else Some(s"the scan fetched $served rows for ${joined.size} joined ones: " +
            "the runtime In filter did not reach it"))
      }),
      MixOp("apply_groupby", write = false, groups.size, (op, _) =>
        same(Seq("category", "q", "n"), collectTimed(op, read(spark, server, "v4", "Items")
          .groupBy("category").agg(sum("qty").as("q"), count(lit(1)).as("n"))), groups)),
      MixOp("odp_initial_and_delta", write = false, d.odpInitial.size + d.odpDelta.size, (op, pass) => {
        val reader = new OdpReader(spark, s"${server.base}/odp/svc/Deltas", stateDir(pass),
          maxPageSize = Some(PageSize))
        val first = h.tracer.span("odp.fetch", op)(reader.read(forceFullLoad = true))
        odpPages = Files.walk(java.nio.file.Paths.get(stateDir(pass)))
          .filter(p => Files.isRegularFile(p) && p.toString.contains("/pages/")).count()
        val got1 = h.tracer.span("odp.decode", op)(h.tagged(op)(first.collect().toSeq))
        val delta = h.tracer.span("odp.fetch", op)(reader.read())
        val got2 = h.tracer.span("odp.decode", op)(h.tagged(op)(delta.collect().toSeq))
        val (c1, c2) = (same(Seq("id", "name", "qty"), got1, d.odpInitial.map(odpRow)),
          same(Seq("id", "name", "qty"), got2, d.odpDelta.map(odpRow)))
        () => c1().orElse(c2())
      }),
      MixOp("delta_share_scan", write = false, shareRows.size, (op, pass) => {
        val dl = work.resolve(s"share-dl-$op").toString
        val df = h.tracer.span("deltashare.download", op)(h.tagged(op)(
          DeltaShare.read(spark, DeltaShareProfile(s"${server.base}/ds", None), "s", "d", "t", Some(dl))))
        same(Seq("id", "label", "amount"), h.tracer.span("execute", op)(df.collect().toSeq), shareRows)
      }),
      MixOp("rest_post_rows", write = true, restN, (op, pass) => {
        val rows = d.writeRows(pass, restN)
        val before = server.restRows.size
        h.tracer.span("execute", op)(h.tagged(op)(
          spark.createDataFrame(spark.sparkContext.parallelize(rows, s.cpus), ConnectorData.SinkSchema)
            .write.format("rest-items").option("url", s"${server.base}/rest/items").mode("append").save()))
        () => {
          val dup = rows.count(r => Option(server.restRows.get(r.getLong(0))).forall(_.get != 1))
          if (dup == 0 && server.restRows.size - before == restN) None
          else Some(s"$dup rows did not arrive exactly once")
        }
      }),
      MixOp("odata_insert_batch", write = true, insertN, (op, pass) => {
        sink.clear()
        val rows = d.writeRows(pass, insertN)
        h.tracer.span("execute", op)(h.tagged(op)(
          spark.createDataFrame(spark.sparkContext.parallelize(rows, s.cpus), ConnectorData.SinkSchema)
            .write.format("odata").option("url", s"${server.base}/v4/svc/Sink")
            .option("insertBatchSize", InsertBatch.toString).mode("append").save()))
        () => {
          val got = sink.snapshot.map(_(0).asInstanceOf[Long])
          if (got.size == insertN && got.toSet == rows.map(_.getLong(0)).toSet) None
          else Some(s"sink holds ${got.size} rows (${got.toSet.size} distinct), expected $insertN")
        }
      }),
      MixOp("odata_update_delete", write = true, insertN / 5, (op, _) => {
        val patches = server.count("odata.patch")
        val deletes = server.count("odata.delete")
        val toPatch = sink.snapshot.count(_(2) == "cat1")
        val toDelete = sink.snapshot.count(_(2) == "cat2")
        h.tracer.span("execute", op)(h.tagged(op) {
          spark.sql("UPDATE bw.main.Sink SET qty = qty + 1000 WHERE category = 'cat1'").collect()
          spark.sql("DELETE FROM bw.main.Sink WHERE category = 'cat2'").collect()
        })
        () => {
          val after = sink.snapshot
          val patched = after.count(r => r(2) == "cat1" && r(3).asInstanceOf[Int] >= 1000)
          if (server.count("odata.patch") - patches == toPatch && patched == toPatch &&
            server.count("odata.delete") - deletes == toDelete && !after.exists(_(2) == "cat2")) None
          else Some(s"update/delete: expected $toPatch patches and $toDelete deletes")
        }
      }),
      MixOp("key_lookups", write = false, ConnectorData.Lookups, (op, pass) => {
        // each lookup's time includes planning the scan (metadata, probes)
        val keys = d.lookupKeys.drop((pass % 2) * ConnectorData.Lookups).take(ConnectorData.Lookups)
        val got = keys.map { k =>
          val t0 = System.nanoTime()
          val df = read(spark, server, "v4", "Items").filter(col("id") === k)
          val r0 = server.requests
          h.tracer.span("odata.plan", op)(h.tagged(op)(df.queryExecution.executedPlan))
          planReq.addAndGet(server.requests - r0)
          val rows = h.tracer.span("execute", op)(h.tagged(op)(df.collect().toSeq))
          lookupMs += (System.nanoTime() - t0) / 1e6
          rows
        }
        () => keys.zip(got).iterator.map { case (k, rows) => same(ItemNames, rows, Seq(itemById(k)))() }
          .collectFirst { case Some(e) => s"lookup: $e" }
      }))

    val opRequests = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val opRows = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val opMs = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    val coldMs = scala.collection.mutable.Map[String, Double]()
    val failed = scala.collection.mutable.Set[String]()
    // rows returned by, and fetched for, the OData scans (traced runs only:
    // the fetched count is the scan's own metric, read through the listener)
    val odataScans = Set("v4_paged_scan", "v2_verbose_scan", "count_parallel_scan",
      "keyset_fallback_scan", "pushdown_scan", "runtime_in_join", "apply_groupby")
    var scanReturned, scanFetched = 0L
    def fetchedSoFar(): Long = h.layers.map { l => SparkLayers.drain(spark); l.odataRows.get }.getOrElse(0L)
    def runMix(pass: Int, phase: String): Unit = mix.foreach { m =>
      server.newOperation()
      val fetched0 = if (odataScans(m.name)) fetchedSoFar() else 0L
      val req0 = server.requests
      val r = h.op(m.name, phase)(op => m.run(op, pass))(check => check())
      r.ms match {
        case Some(ms) =>
          if (phase == "cold") coldMs(m.name) = ms else opMs(m.name) :+= ms
          opRequests(m.name) += server.requests - req0
          opRows(m.name) += m.rows
          if (odataScans(m.name)) {
            scanReturned += m.rows
            scanFetched += fetchedSoFar() - fetched0
          }
        case None => failed += m.name
      }
      h.calibrate()
    }

    val t0 = System.nanoTime()
    val (req0, in0, out0, rep0, busy0, wait0) = (server.requests, server.bytesIn.get,
      server.bytesOut.get, server.repeats.get, server.busyNs.get, server.waitNs)
    h.collectHeap()
    runMix(0, "cold")
    h.collectHeap()
    var pass = 1
    while (pass <= WarmPasses || (System.nanoTime() - t0) / 1e9 < s.seconds) {
      runMix(pass, "warm")
      h.collectHeap()
      pass += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val ok = mix.filterNot(m => failed(m.name))
    // of the time the operations took, the share a client waited on the
    // server, and the share the server spent working (beyond its service time)
    val opsMs = ok.map(m => coldMs(m.name) + opMs(m.name).sum).sum
    val shares = Map(
      "http.wait_share" -> (server.waitNs - wait0) / 1e6 / opsMs,
      "server.busy_share" -> (server.busyNs.get - busy0) / 1e6 / opsMs)
    val serverFigures = Map(
      "http.requests" -> (server.requests - req0).toDouble,
      "http.bytes_in" -> (server.bytesIn.get - in0).toDouble,
      "http.bytes_out" -> (server.bytesOut.get - out0).toDouble,
      "http.retries" -> (server.repeats.get - rep0).toDouble,
      "server.busy_ms" -> (server.busyNs.get - busy0) / 1e6)

    val warmMedian = ok.map(m => m.name -> Stats.median(opMs(m.name))).toMap
    val endToEnd = Map(
      "setup_s" -> setupS,
      "suite_cold_s" -> ok.map(m => coldMs(m.name)).sum / 1000,
      "suite_warm_s" -> warmMedian.values.sum / 1000)
    val (reads, writes) = ok.partition(!_.write)
    def perSec(ms: Seq[MixOp]) = ms.map(m => m.rows.toDouble).sum / (ms.map(m => warmMedian(m.name)).sum / 1000)
    def per1k(ms: Seq[MixOp]) = ms.map(m => opRequests(m.name)).sum * 1000.0 / ms.map(m => opRows(m.name)).sum
    val user = Map(
      "connectors.scan_rows_per_s" -> perSec(reads),
      "connectors.write_rows_per_s" -> perSec(writes),
      "connectors.scan_requests_per_1k_rows" -> per1k(reads),
      "connectors.write_requests_per_1k_rows" -> per1k(writes),
      "connectors.lookup_p50_ms" -> Stats.quantile(lookupMs.toSeq, 0.5),
      "connectors.lookup_p95_ms" -> Stats.quantile(lookupMs.toSeq, 0.95))
    ok.foreach { m =>
      h.extraDetail(s"cold_ms.${m.name}") = coldMs(m.name)
      h.extraDetail(s"warm_ms.${m.name}") = warmMedian(m.name)
      h.extraDetail(s"requests.${m.name}") = opRequests(m.name).toDouble
    }
    h.extraDetail ++= user ++ shares ++ Map("connectors.service_ms" -> ServiceMs.toDouble,
      "connectors.rows" -> d.n.toDouble, "connectors.timed_s" -> timedS)
    if (!s.trace) endToEnd
    else {
      SparkLayers.drain(spark)
      val l = h.layers.get
      val replay = replayLayers(h, spark, server, d)
      endToEnd.map { case (k, v) => s"trace.$k" -> v } ++ user ++ shares ++ replay ++
        QueryWorkload.sparkLayers(h, 0.0) ++ serverFigures ++ Map(
        "odata.plan_ms" -> h.tracer.totalMs("odata.plan"),
        "odata.plan_requests" -> planReq.get.toDouble,
        "odata.pages" -> l.odataPages.get.toDouble,
        "odata.rows_fetched" -> l.odataRows.get.toDouble,
        "odata.bytes_fetched" -> l.odataBytes.get.toDouble,
        "odata.selectivity" -> (if (scanFetched > 0) scanReturned.toDouble / scanFetched else 0.0),
        "odp.fetch_ms" -> h.tracer.totalMs("odp.fetch"),
        "odp.pages_spilled" -> odpPages.toDouble,
        "odp.decode_ms" -> h.tracer.totalMs("odp.decode"),
        "deltashare.files" -> server.files.size.toDouble,
        "deltashare.download_ms" -> h.tracer.totalMs("deltashare.download"),
        "writes.rows_per_request" -> (writes.map(m => opRows(m.name)).sum.toDouble /
          math.max(1L, writes.map(m => opRequests(m.name)).sum)))
    }
  }

  /** Traced run only: replays one v4 and one v2 full scan through the calls
    * the partition reader makes per page (`HttpCore.get`, `HttpResult.text`,
    * `ODataJson.parse`/`extractPage`, `ODataJson.decodeRow`), and one insert
    * batch through `RestWrites.rowToJson`, `ODataJsonBatch.buildPostBatch`
    * and `HttpCore.request`, with a span around each call. */
  private def replayLayers(h: Harness, spark: SparkSession, server: StubServer,
                           d: ConnectorData): Map[String, Double] = {
    val t = h.tracer
    val http = HttpCore.shared
    val headers = Map("Prefer" -> s"odata.maxpagesize=$PageSize")
    Seq("v4" -> "", "v2" -> "?$format=json").zipWithIndex.foreach { case ((svc, q), i) =>
      val op = -1L - i
      val url = s"${server.base}/$svc/svc/Items"
      val schema = ODataMeta.resolve(ODataConf.fromOptions(Map("url" -> url))).sparkSchema
      t.span("scan", op) {
        var next: Option[String] = Some(url + q)
        while (next.isDefined) t.span("page", op) {
          val resp = t.span("http", op)(http.get(next.get, headers = headers, useCache = false))
          val text = t.span("charset", op)(resp.text)
          val page = t.span("parse", op)(ODataJson.extractPage(ODataJson.parse(text)))
          t.span("decode", op)(page.rows.foreach(ODataJson.decodeRow(_, schema)))
          next = page.nextLink
        }
      }
    }
    val rows = spark.createDataFrame(spark.sparkContext.parallelize(d.writeRows(99, 1000), 1),
      ConnectorData.SinkSchema).queryExecution.toRdd.map(_.copy()).collect()
    val op = -3L
    rows.grouped(InsertBatch).foreach { batch =>
      val body = t.span("writes.encode", op) {
        ODataJsonBatch.buildPostBatch("/Replay", batch.map(RestWrites.rowToJson(_, ConnectorData.SinkSchema)).toSeq)
      }
      t.span("writes.wait", op)(http.request("POST", s"${server.base}/v4/svc/$$batch",
        Some((body, "application/json"))))
    }
    server.sets.get("v4/Replay").clear()
    Map(
      "http.wait_ms" -> t.totalMs("http"),
      "odata.charset_ms" -> t.totalMs("charset"),
      "odata.parse_ms" -> t.totalMs("parse"),
      "odata.decode_ms" -> t.totalMs("decode"),
      "writes.encode_ms" -> t.totalMs("writes.encode"),
      "writes.wait_ms" -> t.totalMs("writes.wait"))
  }
}
