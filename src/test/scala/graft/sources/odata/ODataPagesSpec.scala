package graft.sources.odata

import java.nio.charset.StandardCharsets
import graft.SparkSpecBase
import graft.sources.http.HttpAuth
import graft.sources.services.Graph
import graft.testkit.ODataStub
import org.apache.spark.sql.types.StructType

/** The shared page walk ([[ODataPages]]): every paging loop terminates on a
  * repeated `nextLink`, on the executor-side scan and on driver-side walks,
  * and a preloaded first page counts its UTF-8 bytes. */
class ODataPagesSpec extends SparkSpecBase {

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).flatMap(e => Option(e.getMessage)).toSeq

  private def assertLoop(e: Throwable, url: String): Unit =
    assert(messages(e).exists(m => m.contains("paging loop") && m.contains(url)),
      s"expected a paging-loop error naming $url, got: ${messages(e).mkString(" | ")}")

  private def withStub(body: ODataStub => Unit): Unit = {
    val stub = new ODataStub(v2 = false).start()
    try body(stub) finally stub.stop()
  }

  private def scan(url: String) =
    spark.read.format("odata").option("url", url).option("schemaDdl", "id STRING").load()

  test("odata scan fails on a self-looping nextLink, naming the repeated URL") {
    withStub { stub =>
      val url = s"http://localhost:${stub.port}/loop/self"
      assertLoop(intercept[Exception](scan(url).collect()), url)
      assert(stub.loopHits == 1, s"${stub.loopHits} loop requests")
    }
  }

  test("odata scan fails on an A->B->A nextLink cycle, naming the repeated URL") {
    withStub { stub =>
      stub.loopNext ++= Seq("/loop/a" -> "/loop/b", "/loop/b" -> "/loop/a")
      val a = s"http://localhost:${stub.port}/loop/a"
      assertLoop(intercept[Exception](scan(a).collect()), a)
      assert(stub.loopHits == 2, s"${stub.loopHits} loop requests")
    }
  }

  test("Graph discovery walk fails on a self-loop and on an A->B->A cycle") {
    withStub { stub =>
      val root = s"http://localhost:${stub.port}/loop"
      assertLoop(intercept[Exception](
        Graph.resolveListId(spark, "s1", "Docs", baseUrl = root)),
        s"$root/sites/s1/lists")
      stub.loopNext ++= Seq(
        "/loop/a/sites/s1/lists" -> "/loop/b/sites/s1/lists",
        "/loop/b/sites/s1/lists" -> "/loop/a/sites/s1/lists")
      assertLoop(intercept[Exception](
        Graph.resolveListId(spark, "s1", "Docs", baseUrl = s"$root/a")),
        s"$root/a/sites/s1/lists")
      assert(stub.loopHits == 3, s"${stub.loopHits} loop requests")
    }
  }

  test("a preloaded first page counts its UTF-8 bytes, not its characters") {
    val body = """{"value":[{"name":"Zürich"},{"name":"東京"},{"name":"Ωmega"}]}"""
    val reader = new ODataPartitionReader(
      ODataInputPartition("http://localhost:1/never-fetched", 0, Some(body)),
      StructType.fromDDL("name STRING"), None, HttpAuth())
    val names = Iterator.continually(reader.next()).takeWhile(identity)
      .map(_ => reader.get().getUTF8String(0).toString).toSeq
    assert(names == Seq("Zürich", "東京", "Ωmega"))
    val m = reader.currentMetricsValues().map(v => v.name -> v.value).toMap
    assert(m("odataPagesFetched") == 1 && m("odataRowsFetched") == 3, m)
    val utf8 = body.getBytes(StandardCharsets.UTF_8).length
    assert(utf8 > body.length)
    assert(m("odataBytesFetched") == utf8, s"bytes ${m("odataBytesFetched")}, UTF-8 $utf8")
  }
}
