package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.query.Endpoints
import graft.schema.Schemas
import graft.serve.ApiServer

/** The read side: `ApiServer` over the bench corpus with v1–v3 trained in
  * set-up, driven by a seeded open-loop Poisson schedule of Q1/Q2/Q3
  * requests with perturbed payloads, then by a closed loop of `cpus`
  * clients answering a fixed seeded request list. Load comes from this one
  * process with at most `cpus` connections. */
object ServeMix {

  /** Open-loop arrival rate, a quarter of the closed loop's ~12 req/s on 4
    * cores: higher rates queue, and the queueing amplifies host noise. */
  val RatePerS = 3.0
  /** Requests the closed loop answers; its wall time is the gated one. */
  val ClosedRequests = 100
  /** Requests per route whose HTTP answer is compared with an in-process
    * call. */
  val SampledPerRoute = 4

  final case class Done(req: Gen.Req, startNs: Long, dueNs: Long, endNs: Long,
      status: Int, body: String)

  def run(ctx: Ctx, res: Result): Unit = {
    import ctx.{spark, tracer => tr}
    val dir = ctx.sfDir
    // every run trains: ModelStore keeps its versions under java.io.tmpdir,
    // which is the run's own empty directory
    tr.span("ml.train", "v1-v3") {
      Endpoints.m6GrowingWindowImportances(spark, dir).collect()
    }
    val server = new ApiServer(spark, dir)
    server.start()
    val base = s"http://127.0.0.1:${server.boundPort}"
    try {
      // warm the plans and JIT of every route and version
      val warm = Gen.requests(ctx.seed, 1, 12)
      warm.foreach(r => post(base, r))
      Main.setupDone(ctx, res)

      // Spark counters cover the open loop: its seeded schedule fixes the
      // work, so the counts repeat for a seed
      val before = Main.snapshot(ctx)
      val fromMs = System.currentTimeMillis()
      val (open, genLate, inflightMax) = tr.span("serve.open_loop") {
        openLoop(ctx, base, Gen.schedule(ctx.seed, RatePerS, ctx.seconds))
      }
      val toMs = System.currentTimeMillis()
      val after = Main.snapshot(ctx)
      val closed = tr.span("serve.closed_loop") {
        closedLoop(ctx, base, Gen.requests(ctx.seed, 2, ClosedRequests))
      }

      val all = open ++ closed
      all.foreach(d => res.check(s"${d.req.route} HTTP 200") { d.status == 200 })
      // a failed request misses every latency limit
      def lat(ds: Seq[Done]): Seq[Double] = ds.map(d =>
        if (d.status == 200) (d.endNs - d.dueNs) / 1e6 else Double.PositiveInfinity)
      val openLat = lat(open)
      val closedS = (closed.map(_.endNs).max - closed.map(_.startNs).min) / 1e9
      val capacity = closed.count(_.status == 200) / closedS
      res.endToEnd("wall_s") = (closedS, "s")
      res.endToEnd("p50_ms") = (Main.median(openLat), "ms")
      res.endToEnd("throughput_per_s") = (capacity, "1/s")
      val d = res.detail
      d("serve_p50_ms") = (Main.median(openLat), "ms", open.size)
      d("serve_p90_ms") = (Main.pct(openLat, 0.90), "ms", open.size)
      d("serve_p99_ms") = (Main.pct(openLat, 0.99), "ms", open.size)
      Seq("predict", "sensitivity", "optimal_time").foreach { r =>
        val xs = lat(open.filter(_.req.route == r))
        d(s"${r}_p50_ms") = (Main.median(xs), "ms", xs.size)
      }
      d("serve_closed_s") = (closedS, "s", closed.size)
      d("serve_capacity_rps") = (capacity, "req/s", closed.size)
      d("serve_offered_rps") = (RatePerS, "req/s", open.size)

      val probe = tr.span("query.endpoint_probe") { inProcess(ctx, base, open, res) }
      if (tr.enabled) {
        Main.sparkLayers(ctx, res, fromMs, toMs, before, after, open.size)
        // the closed loop is the gated wall time: its request spans must
        // account for it
        Main.traceLayers(ctx, res, "serve.closed_loop")
        val openS = (open.map(_.endNs).max - open.map(_.dueNs).min) / 1e9
        val busy = Tracer.unionNs(open.map(o => (o.dueNs, o.endNs)))
        d("serve.open_loop_busy_pct") = (100.0 * busy / (openS * 1e9), "%", open.size)
        d("serve.inflight_max") = (inflightMax.toDouble, "count", open.size)
        d("serve.gen_late_ms") = (Main.pct(genLate, 0.99), "ms", genLate.size)
        probe.foreach { case (k, (v, n)) => d(k) = (v, "ms", n) }
        res.layers("serve.requests") = (open.size.toDouble, "count")
      }
    } finally server.stop()
  }

  private val mapper = new ObjectMapper()

  def post(base: String, r: Gen.Req): (Int, String) = {
    val c = new URL(base + r.path).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    // a stalled server fails the request instead of hanging the run
    c.setConnectTimeout(30000)
    c.setReadTimeout(30000)
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.getOutputStream.write(r.body.getBytes(StandardCharsets.UTF_8))
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
    (code, body)
  }

  private def timed(base: String, r: Gen.Req, dueNs: Long): Done = {
    val startNs = System.nanoTime()
    val (code, body) = try post(base, r) catch { case e: Exception => (-1, e.toString) }
    Done(r, startNs, dueNs, System.nanoTime(), code, body)
  }

  /** Each request is due at its schedule offset whatever the earlier ones
    * did; the dispatcher records how late it handed each one over. */
  private def openLoop(ctx: Ctx, base: String, sched: Seq[(Long, Gen.Req)])
      : (Seq[Done], Seq[Double], Int) = {
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    val out = new ConcurrentLinkedQueue[Done]()
    val inflight = new AtomicInteger
    val maxInflight = new AtomicInteger
    val late = Vector.newBuilder[Double]
    val root = ctx.tracer.current
    val t0 = System.nanoTime() + 50000000L
    sched.foreach { case (off, r) =>
      val due = t0 + off
      var now = System.nanoTime()
      while (now < due) {
        val waitNs = due - now
        if (waitNs > 2000000L) Thread.sleep((waitNs - 1000000L) / 1000000L)
        else Thread.onSpinWait()
        now = System.nanoTime()
      }
      late += (now - due) / 1e6
      maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
      pool.execute { () =>
        ctx.tracer.span("serve.request", r.route, root) {
          out.add(timed(base, r, due))
        }
        inflight.decrementAndGet()
        ()
      }
    }
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    (out.asScala.toSeq.sortBy(_.dueNs), late.result(), maxInflight.get)
  }

  /** `cpus` clients, each sending the next request of the list when its
    * last one returns, until every request is answered. */
  private def closedLoop(ctx: Ctx, base: String, reqs: Seq[Gen.Req]): Seq[Done] = {
    val out = new ConcurrentLinkedQueue[Done]()
    val next = new AtomicInteger
    val root = ctx.tracer.current
    val clients = (1 to ctx.cpus).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val r = reqs(i)
          ctx.tracer.span("serve.request", r.route, root) {
            out.add(timed(base, r, System.nanoTime()))
          }
          i = next.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    out.asScala.toSeq
  }

  /** For a seeded sample of open-loop requests: the HTTP answer must equal
    * the in-process `Endpoints` result. Also times, unloaded, the HTTP
    * round trip against the in-process call; the difference is the shell
    * (JSON, validation, pool hand-off). */
  private def inProcess(ctx: Ctx, base: String, open: Seq[Done], res: Result)
      : Map[String, (Double, Long)] = {
    val rnd = new Random(ctx.seed * 49979687 + 7)
    val sample = rnd.shuffle(open.filter(_.status == 200).toList)
      .groupBy(_.req.route).values.flatMap(_.take(SampledPerRoute)).toSeq
      .sortBy(_.dueNs)
    val endpointMs = scala.collection.mutable.Map[String, List[Double]]()
    val shellMs = scala.collection.mutable.ListBuffer[Double]()
    sample.foreach { d =>
      val t0 = System.nanoTime()
      val (code, _) = post(base, d.req)
      val httpMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val expected = ctx.tracer.span("query.endpoint", d.req.route) { predictions(ctx, d.req) }
      val callMs = (System.nanoTime() - t1) / 1e6
      endpointMs(d.req.route) = callMs :: endpointMs.getOrElse(d.req.route, Nil)
      if (code == 200) shellMs += httpMs - callMs
      res.check(s"${d.req.route} HTTP equals in-process") {
        httpPredictions(d.req, mapper.readTree(d.body)) == expected
      }
    }
    val q = Map("predict" -> "q1", "sensitivity" -> "q2", "optimal_time" -> "q3")
    endpointMs.map { case (r, xs) =>
      s"query.endpoint_ms.${q(r)}" -> (Main.median(xs), xs.size.toLong)
    }.toMap + ("serve.shell_ms" -> (Main.median(shellMs.toSeq), shellMs.size.toLong))
  }

  private def full(m: Map[String, Float]): Map[String, Float] =
    Schemas.featureCols.map(c => c -> m.getOrElse(c, 0.0f)).toMap

  /** The in-process answer, as the predictions the HTTP body reports. */
  private def predictions(ctx: Ctx, r: Gen.Req): Seq[Double] = r match {
    case Gen.Predict(v, f) =>
      Endpoints.q1Predict(ctx.spark, ctx.sfDir, v, full(f)).collect()
        .map(_.getAs[Double]("predicted_duration")).toSeq
    case Gen.Sensitivity(v, b, f, vals) =>
      val byValue = Endpoints.q2Sensitivity(ctx.spark, ctx.sfDir, v, f, vals, full(b))
        .collect().map(row => row.getAs[Float]("varied_value") ->
          row.getAs[Double]("prediction")).toMap
      vals.map(byValue)
    case Gen.OptimalTime(v, b, hours, minute) =>
      Endpoints.q3OptimalTime(ctx.spark, ctx.sfDir, v, hours, minute, 0.0, 1e6,
        full(b)).collect().toSeq.flatMap(row =>
          Seq(row.getAs[Int]("hour").toDouble, row.getAs[Double]("prediction")))
  }

  private def httpPredictions(r: Gen.Req, body: JsonNode): Seq[Double] = r match {
    case _: Gen.Predict => Seq(body.get("predicted_duration").doubleValue())
    case _: Gen.Sensitivity =>
      body.get("analysis_results").elements().asScala.toSeq
        .map(_.get("predicted_duration").doubleValue())
    case _: Gen.OptimalTime =>
      body.get("suggestions").elements().asScala.toSeq.flatMap(s =>
        Seq(s.get("hour_of_day").intValue().toDouble, s.get("predicted_duration").doubleValue()))
  }
}
