package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: its counters read known values on known
  * plans and requests, and a failing operation is counted, not timed. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val out = Files.createDirectories(Paths.get("target", "bench-spec"))
  private def settings(trace: Boolean) = Settings("spec", 1, 1, trace, "", out, "sf0.001",
    out.resolve("expected"), record = false, cpus = 2)

  private var spark: SparkSession = _
  private val harness = new Harness(settings(trace = true))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    harness.spark = spark
  }

  override def afterAll(): Unit = spark.stop()

  test("listener pins job, stage, task and shuffle counts of a known plan") {
    val layers = new SparkLayers(harness.tracer)
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(layers)
    try {
      // 4 map tasks each write one partial-aggregate row per group (10 groups),
      // 4 reduce tasks read them: one job, two stages, eight tasks
      val rows = spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count().collect()
      SparkLayers.drain(spark)
      assert(rows.length == 10)
      assert(layers.jobs.get == 1)
      assert(layers.stages.get == 2)
      assert(layers.tasks.get == 8)
      assert(layers.shuffleRecords.get == 40)
      assert(layers.shuffleWrite.get > 0 && layers.shuffleRead.get == layers.shuffleWrite.get)
    } finally {
      spark.sparkContext.removeSparkListener(layers)
      spark.listenerManager.unregister(layers)
    }
  }

  test("server counts the requests of a known paged scan") {
    val server = new StubServer(0, 2)
    try {
      val es = new EntitySet("Items", ConnectorData.ItemCols, "id", allowSkip = true)
      new ConnectorData(7, 2500).items.foreach(es.insert)
      server.sets.put("v4/Items", es)
      val got = ConnectorWorkload.read(spark, server, "v4", "Items").collect()
      assert(got.length == 2500)
      // 2500 rows at 1000 rows per page: three page GETs, one $metadata GET
      assert(server.count("odata.get") == 3)
      assert(server.count("metadata") == 1)
      assert(server.requests == 4)
      assert(server.rowsServed.get == 2500)
      assert(server.waitNs > 0)
    } finally server.stop()
  }

  test("a failing operation is counted as failed and carries no time") {
    val h = new Harness(settings(trace = false))
    val thrown = h.op("boom", "cold")(_ => throw new IllegalStateException("deliberate"))(_ => None)
    val wrong = h.op("wrong", "cold")(_ => 41)(r => if (r == 42) None else Some("wrong result"))
    val right = h.op("right", "cold")(_ => 42)(r => if (r == 42) None else Some("wrong result"))
    assert(!thrown.ok && thrown.ms.isEmpty && thrown.error.exists(_.contains("deliberate")))
    assert(!wrong.ok && wrong.ms.isEmpty && wrong.error.contains("wrong result"))
    assert(right.ok && right.ms.isDefined)
    assert(h.results.count(!_.ok) == 2 && h.results.size == 3)
  }

  test("digest ignores row order and float summation noise") {
    val a = Seq(Row(1L, 0.1 + 0.2, "x"), Row(2L, 3.0, null))
    val b = Seq(Row(2L, 3.0, null), Row(1L, 0.3, "x"))
    assert(Digest.of(Seq("k", "v", "s"), a) == Digest.of(Seq("k", "v", "s"), b))
    assert(Digest.of(Seq("k", "v", "s"), a) != Digest.of(Seq("k", "v", "s"), a.take(1)))
  }

  test("filter expressions evaluate the pushed-down subset") {
    val row = Array[Any](5L, "cat3", 60, null)
    val idx = Map("id" -> 0, "category" -> 1, "qty" -> 2, "note" -> 3)
    def ev(f: String) = FilterExpr.parse(f).eval(row, idx)
    assert(ev("((category eq 'cat3') and (qty gt 50))"))
    assert(ev("(id eq 4 or id eq 5)"))
    assert(!ev("(id gt 5) or (category ne 'cat3')"))
    assert(ev("note eq null") && ev("id ne null"))
  }

  test("self time subtracts the union of child spans") {
    val t = new Tracer(true)
    val parent = t.add("operation", 0, 1, 0L, 100L)
    t.add("job", parent, 1, 10L, 40L)
    t.add("job", parent, 1, 30L, 60L)
    // children cover 10..60 of 0..100: 50 ns of the parent are its own
    assert(t.selfMs("operation") == 50 / 1e6)
  }
}
