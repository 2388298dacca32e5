package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

/** The delivery-surface contract over a REAL socket: SQL goes in as an
  * HTTP POST, the reference's envelope (both plans + statistics + rows)
  * comes back — closing the one lifecycle step the library facade
  * (`Engine`) didn't replicate (`QueryService.asmx.cs:24-29`). */
class ServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = new Engine(spark, TestSpark.sfDir)

  private def withService(f: (HttpClient, Int) => Unit): Unit = {
    val svc = new Service(engine, port = 0)
    val port = svc.start()
    try f(HttpClient.newHttpClient(), port)
    finally svc.stop()
  }

  private def post(c: HttpClient, port: Int, path: String,
      body: String): String =
    c.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  test("POST /query returns the full envelope: plans, stats, rows") {
    withService { (c, port) =>
      val body = post(c, port, "/query",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT n_name, count(*) AS n FROM customer c " +
            "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
            "GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3",
          "UTF-8"))
      assert(body.contains("\"originalPlan\""), body.take(200))
      assert(body.contains("\"optimizedPlan\""))
      assert(body.contains("\"statistics\""))
      assert(body.contains("\"OpType\"")) // the reference's plan schema
      assert(body.contains("\"rowCount\":3"), body.takeRight(200))
      assert(body.contains("n_name"))
    }
  }

  test("POST /explain returns plans and stats WITHOUT rows — " +
      "plan inspection costs zero scans") {
    withService { (c, port) =>
      val body = post(c, port, "/explain",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT count(*) FROM lineitem WHERE l_quantity > 10",
          "UTF-8"))
      assert(body.contains("\"originalPlan\""), body.take(200))
      assert(body.contains("\"optimizedPlan\""))
      assert(body.contains("\"statistics\""))
      // no result payload: the plan-stats "rowCount" (a Catalyst
      // estimate) is fine, a "rows" array is not
      assert(!body.contains("\"rows\""))
      assert(!body.contains("\"schema\""))
    }
  }

  test("POST /getData returns rows only; limit bounds the payload") {
    withService { (c, port) =>
      val body = post(c, port, "/getData",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT c_custkey FROM customer ORDER BY c_custkey", "UTF-8") +
          "&limit=5")
      assert(body.contains("\"rowCount\":5"), body.takeRight(120))
      assert(!body.contains("originalPlan"))
    }
  }

  test("raw-body SQL works; errors come back as JSON, not a dead socket") {
    withService { (c, port) =>
      val ok = post(c, port, "/getData", "SELECT 1 AS one")
      assert(ok.contains("\"one\":1"), ok)
      val err = post(c, port, "/query", "SELEKT nonsense")
      assert(err.contains("\"error\""), err.take(200))
    }
  }

  test("raw SQL containing the substring 'sql=' is not shredded as a " +
      "form body") {
    withService { (c, port) =>
      val ok = post(c, port, "/getData",
        "SELECT 'sql=' AS marker, 2 AS two")
      assert(ok.contains("\"two\":2") && ok.contains("sql="), ok)
    }
  }

  test("plan view page escapes markup it interpolates") {
    withService { (c, port) =>
      val body = c.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      // the esc() helper exists and every interpolation site uses it —
      // a data cell like '<img onerror=…>' must render inert
      assert(body.contains("function esc("))
      // every SVG interpolation site (node label, truncated condition,
      // tooltip) and every table cell goes through esc()
      assert(body.contains("esc(p.label)") &&
        body.contains("esc(p.cond)") && body.contains("esc(p.full)") &&
        body.contains("esc(x[c])"))
    }
  }

  test("GET / serves the self-contained plan view page") {
    withService { (c, port) =>
      val body = c.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("<html>") && body.contains("optimized plan"))
    }
  }

  test("concurrent requests all succeed — the engine and catalog are " +
      "safe under the service's thread pool") {
    withService { (c, port) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      // a dedicated 8-thread pool, not ExecutionContext.global: the
      // global pool sizes to the CPU count, so on a small box fewer
      // than 8 posts would be in flight and the service pool never
      // saturates — the concurrency this test exists to exercise
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val sqls = (0 until 8).map(i =>
          s"SELECT count(*) AS n FROM orders WHERE o_custkey % 8 = $i")
        val bodies = Await.result(
          Future.sequence(sqls.map(q => Future(
            post(c, port, "/query",
              "sql=" + java.net.URLEncoder.encode(q, "UTF-8"))))),
          120.seconds)
        bodies.foreach { b =>
          // the terminal `"rowCount":1}` — the RESULT count, not a
          // plan-statistics rowCount estimate that happens to start
          // with 1
          assert(b.endsWith("\"rowCount\":1}") && !b.contains("error"),
            b.take(200))
        }
      } finally pool.shutdown()
    }
  }

  test("POST /stream sends the FULL result as NDJSON — unbounded rows, " +
      "bounded driver memory — and survives concurrent streams") {
    withService { (c, port) =>
      val expect = engine.getData("SELECT count(*) c FROM customer")
        .collect()(0).getLong(0)
      def streamCount(): Int = {
        val body = post(c, port, "/stream",
          "sql=" + java.net.URLEncoder.encode(
            "SELECT c_custkey, c_name FROM customer", "UTF-8"))
        val lines = body.split("\n").filter(_.nonEmpty)
        assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")),
          lines.take(2).mkString("|"))
        lines.length
      }
      // the whole table comes back — no default limit on this route
      assert(streamCount().toLong === expect)
      // concurrency: three simultaneous full-table streams plus a
      // bounded /query must all complete intact on the 4-thread pool
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(4)
      val streams = (1 to 3).map(_ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = streamCount()
        }))
      val q = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = post(c, port, "/query",
          "sql=" + java.net.URLEncoder.encode(
            "SELECT count(*) AS n FROM nation", "UTF-8"))
      })
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      streams.foreach(f => assert(f.get().toLong === expect))
      assert(q.get().contains("\"rowCount\":1"))
    }
  }

  test("POST /stream raises analysis errors as JSON before any bytes " +
      "stream") {
    withService { (c, port) =>
      val body = post(c, port, "/stream",
        "sql=" + java.net.URLEncoder.encode(
          "SELECT nope FROM customer", "UTF-8"))
      assert(body.startsWith("{\"error\":"), body.take(120))
    }
  }

  test("QueryResult bounded forms: rowsLimited and rowsIterator") {
    val r = engine.query(
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey")
    assert(r.rowsLimited(7).length === 7)
    assert(r.rowsIterator.take(3).size === 3)
    val (limited, stats) = r.executeWithStats(5)
    assert(limited.length === 5)
    assert(stats.contains("\"node\"")) // the walk saw the executed plan
  }

  test("row JSON is byte-identical to toJSON on both row routes, the " +
      "limit holds ordered and unordered, and a filter query's row " +
      "plan has no single-partition exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{CollectLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def form(sql: String, limit: Int) = "sql=" +
      java.net.URLEncoder.encode(sql, "UTF-8") + s"&limit=$limit"
    // the rows array: between `"rows":` and the terminal `,"rowCount":`
    def rows(body: String) = body.substring(body.indexOf("\"rows\":") + 7,
      body.lastIndexOf(",\"rowCount\":"))
    def toJson(sql: String, limit: Int) = engine.getData(sql).limit(limit)
      .toJSON.collect().mkString("[", ",", "]")
    val typed =
      """SELECT c_custkey AS k, c_name AS k, CAST(NULL AS STRING) AS nul,
        |  named_struct('a', c_nationkey, 'b', array(1.5D, NULL),
        |    'c', named_struct('z', CAST(NULL AS INT))) AS st,
        |  map('x', c_acctbal, 'y', NULL) AS m,
        |  TIMESTAMP '2024-01-02 03:04:05.678' AS ts,
        |  CAST(c_acctbal AS DECIMAL(12, 2)) AS d,
        |  concat('naïve — 日本 "q" \\ ', c_name) AS u
        |FROM customer ORDER BY c_custkey""".stripMargin
    val unordered = "SELECT c_custkey, c_mktsegment FROM customer"
    withService { (c, port) =>
      for (route <- Seq("/getData", "/query")) {
        val typedRows = rows(post(c, port, route, form(typed, 4)))
        assert(typedRows === toJson(typed, 4), route)
        assert(typedRows.contains("日本") && typedRows.contains("\"ts\":"))
        val body = post(c, port, route, form(unordered, 6))
        assert(body.endsWith("\"rowCount\":6}"), body.takeRight(80))
        assert(rows(body).split("\\},\\{").length === 6)
      }
      val ordered = "SELECT c_custkey FROM customer ORDER BY c_custkey DESC"
      assert(rows(post(c, port, "/getData", form(ordered, 3))) ===
        toJson(ordered, 3))
    }
    def finalPlan(sql: String, limit: Int) = {
      val df = Service.rowFrame(engine.getData(sql), limit)
      assert(df.collect().length <= limit)
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    }
    val point = finalPlan(
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 7", 1000)
    assert(point.isInstanceOf[CollectLimitExec], point)
    assert(point.collect { case e: ShuffleExchangeExec
        if e.outputPartitioning == SinglePartition => e }.isEmpty, point)
    assert(finalPlan(typed, 10).isInstanceOf[TakeOrderedAndProjectExec])
  }
}
