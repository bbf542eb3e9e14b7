package graft

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import com.fasterxml.jackson.databind.ObjectMapper
import graft.query.Endpoints
import graft.serve.ApiServer

/** The HTTP shell (reference api/api.py:77-313 parity): routes, status
  * codes, validation messages, and agreement with the underlying
  * Endpoints dataflows. */
class ApiServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private lazy val server: ApiServer = {
    val s = new ApiServer(spark, sf)
    s.start()
    s
  }

  private def post(path: String, body: String): (Int, String) = {
    val url = new URL(s"http://127.0.0.1:${server.boundPort}$path")
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    c.disconnect()
    (code, text)
  }

  private def canonicalJson: String = {
    val o = mapper.createObjectNode()
    Endpoints.canonicalFeatures.foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }

  test("POST /predict/duration/3 with the canonical payload matches q1Predict") {
    val (code, body) = post("/predict/duration/3", canonicalJson)
    assert(code == 200, body)
    val node = mapper.readTree(body)
    assert(node.get("model_version_used").asText() == "model_3")
    val want = Endpoints.q1Predict(spark, sf)
      .collect()(0).getAs[Double]("predicted_duration")
    assert(node.get("predicted_duration").asDouble() == want)
    assert(node.get("missing_features_defaulted").isNull)
  }

  test("missing features default to 0.0 and are reported; invalid values 400") {
    val (code, body) = post("/predict/duration/1", """{"Distance": 3.5}""")
    assert(code == 200, body)
    val node = mapper.readTree(body)
    val reported = node.get("missing_features_defaulted")
    assert(reported.isArray && reported.size() == 18, body)
    // the request payload is echoed back, api/api.py:96
    assert(node.get("input_features").get("Distance").asDouble() == 3.5, body)
    val (code2, body2) =
      post("/predict/duration/1", """{"Distance": "not-a-number"}""")
    assert(code2 == 400, body2)
    // golden: the exact api/api.py:68 message (Python dict repr)
    assert(mapper.readTree(body2).get("error").asText() ==
      "Invalid non-numeric values for features: {'Distance': 'not-a-number'}",
      body2)
  }

  test("numeric strings parse like Python float(); empty JSON object is falsy") {
    // api/api.py:62 float("3.5") succeeds — a string-typed number must
    // predict identically to the number, not coerce to 0
    val (c1, b1) = post("/predict/duration/1", """{"Distance": "3.5"}""")
    val (c2, b2) = post("/predict/duration/1", """{"Distance": 3.5}""")
    assert(c1 == 200 && c2 == 200, b1 + b2)
    assert(mapper.readTree(b1).get("predicted_duration").asDouble() ==
      mapper.readTree(b2).get("predicted_duration").asDouble())
    // CPython float() grammar: digit-group underscores and inf/nan words
    // parse; the Java literal forms (suffixes, hex) are ValueErrors
    val (c5, b5) = post("/predict/duration/1", """{"Distance": " 1_000 "}""")
    val (c6, b6) = post("/predict/duration/1", """{"Distance": 1000}""")
    assert(c5 == 200 && c6 == 200, b5 + b6)
    assert(mapper.readTree(b5).get("predicted_duration").asDouble() ==
      mapper.readTree(b6).get("predicted_duration").asDouble())
    for (ok <- Seq("nan", "inf", "-infinity", "+NaN", "1.", ".5e1")) {
      val (c, b) = post("/predict/duration/1", s"""{"Distance": "$ok"}""")
      assert(c == 200, s"$ok: $b")
    }
    for (bad <- Seq("2.5f", "3d", "0x1p3", "1__0", "_1", "1e", "infinit", ".")) {
      val (c, b) = post("/predict/duration/1", s"""{"Distance": "$bad"}""")
      assert(c == 400 && mapper.readTree(b).get("error").asText() ==
        s"Invalid non-numeric values for features: {'Distance': '$bad'}",
        s"$bad: $b")
    }
    // api/api.py:85-86 `if not data:` — {} is falsy in Python
    val (c3, b3) = post("/predict/duration/1", "{}")
    assert(c3 == 400 &&
      mapper.readTree(b3).get("error").asText() == "No input data provided", b3)
    val (c4, b4) = post("/analyze/sensitivity/1", "{}")
    assert(c4 == 400 &&
      mapper.readTree(b4).get("error").asText() == "No input payload provided", b4)
  }

  test("unknown model version 404, empty body 400, GET 405") {
    val (code, _) = post("/predict/duration/9", canonicalJson)
    assert(code == 404)
    val (code2, _) = post("/predict/duration/2", "")
    assert(code2 == 400)
    val url = new URL(s"http://127.0.0.1:${server.boundPort}/predict/duration/1")
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("GET")
    assert(c.getResponseCode == 405)
    c.disconnect()
  }

  test("POST /analyze/sensitivity validates the payload and batches the grid") {
    val payload = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "Distance",
      "variation_values": [1.0, 2.0, 3.0]}"""
    val (code, body) = post("/analyze/sensitivity/2", payload)
    assert(code == 200, body)
    val results = mapper.readTree(body).get("analysis_results")
    assert(results.size() == 3, body)
    // agreement with the dataflow
    val want = Endpoints.q2Sensitivity(spark, sf, 2, "Distance",
        Seq(1.0f, 2.0f, 3.0f)).collect()
      .map(r => r.getAs[Double]("prediction")).toSeq
    val got = (0 until 3).map(i =>
      results.get(i).get("predicted_duration").asDouble())
    assert(got == want)
    val bad = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "NotAFeature", "variation_values": [1.0]}"""
    val (code2, body2) = post("/analyze/sensitivity/2", bad)
    assert(code2 == 400 &&
      mapper.readTree(body2).get("error").asText().contains("NotAFeature"))
    // api/api.py:123 `not all([...])` — an EMPTY variation list is falsy
    val empty = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "Distance", "variation_values": []}"""
    val (code3, body3) = post("/analyze/sensitivity/2", empty)
    assert(code3 == 400 && mapper.readTree(body3).get("error").asText()
      .startsWith("Missing 'base_features'"), body3)
  }

  test("sensitivity: per-variation errors, snapshots, and errors-only 200 (api.py:133-215)") {
    // mixed grid: 1.0 valid, "2.0" valid via float(), "abc" invalid
    val payload = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "Distance",
      "variation_values": [1.0, "2.0", "abc"]}"""
    val (code, body) = post("/analyze/sensitivity/2", payload)
    assert(code == 200, body)
    val node = mapper.readTree(body)
    assert(node.get("model_version_used").asText() == "model_2")
    val rs = node.get("analysis_results")
    assert(rs.size() == 3, body)
    // entries stay in request order; successes carry a snapshot of the
    // exact feature dict predicted (api.py:190-195)
    val want = Endpoints.q2Sensitivity(spark, sf, 2, "Distance",
        Seq(1.0f, 2.0f)).collect()
      .map(r => r.getAs[Double]("prediction")).toSeq
    assert(rs.get(0).get("predicted_duration").asDouble() == want(0))
    assert(rs.get(0).get("base_features_snapshot").get("Distance").asDouble() == 1.0)
    assert(rs.get(1).get("value").asText() == "2.0") // raw value echoed
    assert(rs.get(1).get("predicted_duration").asDouble() == want(1))
    assert(rs.get(2).get("predicted_duration").isNull, body)
    assert(rs.get(2).get("error").asText() ==
      "Invalid non-numeric values for features: {'Distance': 'abc'}", body)
    // all variations invalid -> errors-only 200 with bare analysis_results
    val allBad = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "Distance", "variation_values": ["x", "y"]}"""
    val (code2, body2) = post("/analyze/sensitivity/2", allBad)
    assert(code2 == 200, body2)
    val node2 = mapper.readTree(body2)
    assert(node2.get("model_version_used") == null, body2) // api.py:152
    assert(node2.get("analysis_results").size() == 2, body2)
  }

  test("sensitivity: unsorted variation grid keeps value↔prediction pairing") {
    // q2Sensitivity sorts rows by varied_value; the response must pair each
    // REQUEST-order entry with ITS prediction, not the i-th sorted one.
    val payload = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "Distance",
      "variation_values": [3.0, "bad", 1.0, 2.0]}"""
    val (code, body) = post("/analyze/sensitivity/2", payload)
    assert(code == 200, body)
    val rs = mapper.readTree(body).get("analysis_results")
    assert(rs.size() == 4, body)
    // ground truth keyed by value from the dataflow itself
    val byVal = Endpoints.q2Sensitivity(spark, sf, 2, "Distance",
        Seq(3.0f, 1.0f, 2.0f)).collect()
      .map(r => r.getAs[Float]("varied_value") -> r.getAs[Double]("prediction"))
      .toMap
    assert(rs.get(0).get("predicted_duration").asDouble() == byVal(3.0f), body)
    assert(rs.get(1).get("predicted_duration").isNull, body)
    assert(rs.get(2).get("predicted_duration").asDouble() == byVal(1.0f), body)
    assert(rs.get(3).get("predicted_duration").asDouble() == byVal(2.0f), body)
    // the snapshot echoes the variant actually predicted
    assert(rs.get(0).get("base_features_snapshot").get("Distance").asDouble() == 3.0)
  }

  test("POST /suggest/optimal-time skips invalid hours, sorts by duration") {
    val payload = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": 1e9, "hours_to_evaluate": [-1, 8, 9, 10, 30],
      "minute_of_hour": 30}"""
    val (code, body) = post("/suggest/optimal-time/3", payload)
    assert(code == 200, body)
    val node = mapper.readTree(body)
    val sugg = node.get("suggestions")
    assert(sugg.size() == 3, body) // -1 and 30 skipped
    val durations = (0 until sugg.size()).map(i =>
      sugg.get(i).get("predicted_duration").asDouble())
    assert(durations == durations.sorted, body)
    val (code2, body2) = post("/suggest/optimal-time/3",
      s"""{"base_conditions": $canonicalJson, "target_duration_max": 10,
        "hours_to_evaluate": [8], "minute_of_hour": 99}""")
    assert(code2 == 400 && mapper.readTree(body2).get("error").asText() ==
      "Invalid type for target durations or minute: minute_of_hour must be between 0 and 59.",
      body2)
  }

  test("optimal-time: isinstance(hour, int) skip rule and Python float()/int() coercion") {
    // 7.9 (float) and "8" (string) are SKIPPED, not truncated/parsed
    // (api/api.py:262); only the JSON integer 9 survives
    val payload = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": "1e9", "hours_to_evaluate": [7.9, "8", 9],
      "minute_of_hour": "30"}"""
    val (code, body) = post("/suggest/optimal-time/3", payload)
    assert(code == 200, body)
    val node = mapper.readTree(body)
    val sugg = node.get("suggestions")
    assert(sugg.size() == 1, body)
    assert(sugg.get(0).get("hour_of_day").asInt() == 9, body)
    assert(sugg.get(0).get("minute_of_hour").asInt() == 30, body) // int("30")
    assert(node.get("target_duration_max").asDouble() == 1e9, body) // float("1e9")
    // every hour invalid -> the api.py:282 message branch, still 200
    val noneValid = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": 20, "hours_to_evaluate": [7.5, "8", 99]}"""
    val (code2, body2) = post("/suggest/optimal-time/3", noneValid)
    assert(code2 == 200, body2)
    val node2 = mapper.readTree(body2)
    assert(node2.get("message").asText() ==
      "No valid hours to evaluate after validation.", body2)
    assert(node2.get("suggestions").size() == 0, body2)
    // unparseable duration -> the api.py:255 conversion 400
    val badMax = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": "abc", "hours_to_evaluate": [8]}"""
    val (code3, body3) = post("/suggest/optimal-time/3", badMax)
    assert(code3 == 400 && mapper.readTree(body3).get("error").asText()
      .startsWith("Invalid type for target durations or minute"), body3)
    // float("1_000") and float("-infinity") parse; the Java literal
    // forms CPython rejects are the same ValueError 400
    val grouped = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": "1_000", "target_duration_min": "-infinity",
      "hours_to_evaluate": [9]}"""
    val (code4, body4) = post("/suggest/optimal-time/3", grouped)
    assert(code4 == 200, body4)
    assert(mapper.readTree(body4).get("target_duration_max").asDouble() == 1000.0,
      body4)
    assert(mapper.readTree(body4).get("suggestions").size() == 1, body4)
    for (bad <- Seq("2.5f", "3d", "0x1p3")) {
      val p = s"""{"base_conditions": $canonicalJson,
        "target_duration_max": "$bad", "hours_to_evaluate": [8]}"""
      val (c, b) = post("/suggest/optimal-time/3", p)
      assert(c == 400 && mapper.readTree(b).get("error").asText() ==
        "Invalid type for target durations or minute: " +
          s"could not convert string to float: '$bad'", s"$bad: $b")
    }
  }

  test("optimal-time: CPython ValueError texts, boolean hours, repr escaping") {
    // float('abc') ValueError text lands verbatim in the 400 body
    val badMax = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": "abc", "hours_to_evaluate": [8]}"""
    val (c1, b1) = post("/suggest/optimal-time/3", badMax)
    assert(c1 == 400 && mapper.readTree(b1).get("error").asText() ==
      "Invalid type for target durations or minute: " +
        "could not convert string to float: 'abc'", b1)
    // int('x') ValueError text, from minute_of_hour
    val badMin = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": 20, "hours_to_evaluate": [8],
      "minute_of_hour": "x"}"""
    val (c2, b2) = post("/suggest/optimal-time/3", badMin)
    assert(c2 == 400 && mapper.readTree(b2).get("error").asText() ==
      "Invalid type for target durations or minute: " +
        "invalid literal for int() with base 10: 'x'", b2)
    // isinstance(True, int) is True in Python: boolean hours are 1/0
    val boolHour = s"""{"base_conditions": $canonicalJson,
      "target_duration_max": 1e9, "hours_to_evaluate": [true, 9]}"""
    val (c3, b3) = post("/suggest/optimal-time/3", boolHour)
    assert(c3 == 200, b3)
    val hours = mapper.readTree(b3).get("suggestions").elements()
    val got = Iterator.continually(hours).takeWhile(_.hasNext)
      .map(_.next().get("hour_of_day").asInt()).toSet
    assert(got == Set(1, 9), b3)
    // Python repr quote selection: a value containing ' renders
    // double-quoted in the invalid-features dict (api.py:68)
    val quoted = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "Distance",
      "variation_values": ["a'b"]}"""
    val (c4, b4) = post("/analyze/sensitivity/2", quoted)
    assert(c4 == 200, b4)
    val entry = mapper.readTree(b4).get("analysis_results").get(0)
    assert(entry.get("error").asText() ==
      "Invalid non-numeric values for features: {'Distance': \"a'b\"}", b4)
    // and a backslash escapes like repr('a\\b')
    val backslash = s"""{"base_features": $canonicalJson,
      "variable_feature_name": "Distance",
      "variation_values": ["a\\\\b"]}"""
    val (c5, b5) = post("/analyze/sensitivity/2", backslash)
    assert(c5 == 200, b5)
    val entry5 = mapper.readTree(b5).get("analysis_results").get(0)
    assert(entry5.get("error").asText() ==
      "Invalid non-numeric values for features: {'Distance': 'a\\\\b'}", b5)
  }
}
