package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.query.Endpoints
import graft.schema.Schemas

/** HTTP serving shell for the three model-backed query programs — the
  * route/validation/error-code surface of the reference's Flask API
  * (api/api.py:77-313), over [[graft.query.Endpoints]]' dataflows:
  *
  *   - POST /predict/duration/{version}       (api/api.py:78)
  *   - POST /analyze/sensitivity/{version}    (api/api.py:107)
  *   - POST /suggest/optimal-time/{version}   (api/api.py:227)
  *
  * Validation mirrors the reference: unknown model version → 404; no/
  * malformed JSON body → 400; non-numeric feature values → 400 listing
  * the offenders (api/api.py:50-73); missing features default to 0.0
  * and are reported in `missing_features_defaulted`; an unknown
  * `variable_feature_name` → 400; out-of-range hours are skipped
  * (api/api.py:263-265); suggestions sort by predicted duration
  * ascending (api/api.py:298).
  *
  * Built on the JDK's `com.sun.net.httpserver` + the Jackson shipped
  * with Spark — zero added dependencies. This is a thin shell by
  * design: every query program, its batching (one Spark job per
  * request, not one per variation — the reference's own optimization)
  * and its id-ordered prediction/input association live in
  * [[Endpoints]]; the shell only parses, validates, and serializes.
  * Serving at scale is horizontal (N stateless shells over shared
  * model artifacts), not a Spark-cluster concern.
  */
final class ApiServer(spark: SparkSession, dir: String, port: Int = 0) {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/predict/duration/", handler(predictDuration))
  server.createContext("/analyze/sensitivity/",
    handler(analyzeSensitivity, "No input payload provided"))
  server.createContext("/suggest/optimal-time/",
    handler(suggestOptimalTime, "No input payload provided"))
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
  /** The bound port (useful with port = 0 → ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  private val versions: Set[String] = (1 to graft.ml.Trainer.MaxVersions)
    .map(_.toString).toSet

  /** Python `float(val)` (api/api.py:62): numbers pass through, bools are
    * 1/0, numeric STRINGS parse ("2.5" is valid input — api.py accepts
    * it); anything else is a validation error. (Python raises TypeError —
    * an unhandled 500 — for list/dict values; the shell folds that into
    * the same validation error, the one deliberate divergence.) */
  private def pyFloat(v: JsonNode): Option[Float] =
    if (v.isNumber) Some(v.floatValue())
    else if (v.isBoolean) Some(if (v.booleanValue()) 1.0f else 0.0f)
    // a Python float stored in a FloatType column: parse, then narrow
    else if (v.isTextual) ApiServer.pyParseFloat(v.asText()).map(_.toFloat)
    else None

  /** Python str repr: backslashes and control chars escape; quote
    * selection follows CPython (single quotes unless the string contains
    * `'` and no `"`, in which case double quotes; single quotes escape
    * only inside a single-quoted repr). */
  private def pyStrRepr(s: String): String = {
    val esc = s.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }
    if (esc.contains('\'') && !esc.contains('"')) "\"" + esc + "\""
    else "'" + esc.replace("'", "\\'") + "'"
  }

  /** Python repr of a JSON value, for error messages that mirror
    * api/api.py:68's f-string over the invalid-features dict. */
  private def pyRepr(n: JsonNode): String = {
    import scala.jdk.CollectionConverters._
    if (n.isTextual) pyStrRepr(n.asText())
    else if (n.isNull) "None"
    else if (n.isBoolean) { if (n.booleanValue()) "True" else "False" }
    else if (n.isArray) n.elements().asScala.map(pyRepr).mkString("[", ", ", "]")
    else if (n.isObject) n.properties().asScala
      .map(e => s"${pyStrRepr(e.getKey)}: ${pyRepr(e.getValue)}").mkString("{", ", ", "}")
    else n.asText()
  }

  /** Python truthiness of a JSON payload field — api.py gates presence
    * with `not all([...])`, so empty dict/list/string count as missing. */
  private def falsy(n: JsonNode): Boolean =
    n == null || n.isNull ||
      (n.isContainerNode && n.isEmpty) ||
      (n.isTextual && n.asText().isEmpty) ||
      (n.isBoolean && !n.booleanValue()) ||
      (n.isNumber && n.doubleValue() == 0.0)

  /** api/api.py:49-73: coerce every known feature to float; missing →
    * (0.0, reported); non-numeric → error listing the offenders as the
    * Python dict repr (`{'Temp': 'abc'}`). */
  private def validateFeatures(node: JsonNode)
      : Either[String, (Map[String, Float], List[String])] = {
    var missing = List.empty[String]
    var invalid = List.empty[(String, JsonNode)]
    val vals = Schemas.featureCols.flatMap { c =>
      val v = node.get(c)
      if (v == null || v.isNull) { missing ::= c; Some(c -> 0.0f) }
      else pyFloat(v) match {
        case Some(f) => Some(c -> f)
        case None => invalid ::= (c, v); None
      }
    }.toMap
    if (invalid.nonEmpty)
      Left("Invalid non-numeric values for features: " + invalid.reverse
        .map { case (k, v) => s"${pyStrRepr(k)}: ${pyRepr(v)}" }
        .mkString("{", ", ", "}"))
    else Right((vals, missing.reverse))
  }

  private def handler(f: (String, JsonNode) => (Int, ObjectNode),
      emptyMsg: String = "No input data provided"): HttpHandler =
    (ex: HttpExchange) => {
      val (status, body) =
        try {
          if (ex.getRequestMethod != "POST")
            (405, err("Method not allowed; POST a JSON payload"))
          else {
            val version = ex.getRequestURI.getPath.split('/').last
            if (!versions.contains(version))
              (404, err(s"Model 'model_$version' not loaded or not found."))
            else {
              val bytes = ex.getRequestBody.readAllBytes()
              if (bytes.isEmpty) (400, err(emptyMsg))
              else {
                val node =
                  try mapper.readTree(bytes)
                  catch { case _: Exception => null }
                if (node == null || !node.isObject)
                  (400, err("Malformed JSON payload"))
                // Python `if not data:` — an empty JSON object is falsy
                else if (node.isEmpty) (400, err(emptyMsg))
                else f(version, node)
              }
            }
          }
        } catch {
          case e: Exception => (500, err(s"Prediction error: ${e.getMessage}"))
        }
      val out = mapper.writeValueAsBytes(body)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    }

  private def err(msg: String): ObjectNode =
    mapper.createObjectNode().put("error", msg)

  /** api/api.py:77-104. */
  private def predictDuration(version: String, node: JsonNode): (Int, ObjectNode) =
    validateFeatures(node) match {
      case Left(msg) => (400, err(msg))
      case Right((features, missing)) =>
        val pred = Endpoints.q1Predict(spark, dir, version.toInt, features)
          .collect()(0).getAs[Double]("predicted_duration")
        val o = mapper.createObjectNode()
        o.put("model_version_used", s"model_$version")
        o.set[ObjectNode]("input_features", node.deepCopy[JsonNode]())
        o.put("predicted_duration", pred)
        if (missing.nonEmpty) {
          val a = o.putArray("missing_features_defaulted")
          missing.foreach(m => a.add(m))
        } else o.putNull("missing_features_defaulted")
        (200, o)
    }

  /** api/api.py:107-223: one batched transform over the variation grid.
    * Each variation is validated INDIVIDUALLY against base ∪ {varied}
    * (api.py:133-148): a failing variation contributes a per-variation
    * error entry (`error` + null `predicted_duration`) instead of
    * failing the request, and successes carry a `base_features_snapshot`
    * of the exact dict predicted (api.py:190-195). All-failed →
    * errors-only 200 `{"analysis_results": [...]}`; empty grid after
    * both → 400 (api.py:150-153). */
  private def analyzeSensitivity(version: String, node: JsonNode): (Int, ObjectNode) = {
    import scala.jdk.CollectionConverters._
    val base = node.get("base_features")
    val feat = node.get("variable_feature_name")
    val vars = node.get("variation_values")
    if (falsy(base) || falsy(feat) || falsy(vars))
      return (400, err("Missing 'base_features', 'variable_feature_name', or 'variation_values' in payload."))
    val featName = feat.asText()
    if (!Schemas.featureCols.contains(featName))
      return (400, err(s"Invalid 'variable_feature_name': $featName. Not a model feature."))
    if (!vars.isArray)
      return (400, err("'variation_values' must be a list."))
    // validate each base ∪ {featName → varVal} variant; keep the raw
    // JSON value for echoing and the outcome for result assembly
    val variants = vars.asInstanceOf[ArrayNode].elements().asScala.toSeq
      .map { varVal =>
        val merged = base.deepCopy[ObjectNode]()
        merged.set[ObjectNode](featName, varVal.deepCopy[JsonNode]())
        (varVal, merged, validateFeatures(merged))
      }
    val valid = variants.collect { case (_, _, Right((f, _))) => f(featName) }
    if (valid.isEmpty) {
      val o = mapper.createObjectNode()
      val a = o.putArray("analysis_results")
      variants.foreach { case (varVal, _, outcome) =>
        outcome.left.foreach { msg =>
          val e = a.addObject()
          e.put("varied_feature", featName)
          e.set[ObjectNode]("value", varVal.deepCopy[JsonNode]())
          e.put("error", msg)
          e.putNull("predicted_duration")
        }
      }
      return if (a.isEmpty)
        (400, err("No valid variations to process after validation."))
      else (200, o) // errors-only response, api.py:151-152
    }
    val baseFeatures =
      variants.collectFirst { case (_, _, Right((f, _))) => f }.get
    // q2Sensitivity returns rows sorted by varied_value, while the response
    // must echo REQUEST order (api.py appends per-variation in input order) —
    // so look predictions up by value, never positionally. Keyed on the
    // float's int-bits so a NaN variation (textual "NaN" passes float())
    // still round-trips (NaN != NaN under ==).
    val predByValue: Map[Int, Double] = Endpoints.q2Sensitivity(spark, dir,
        version.toInt, featName, valid, baseFeatures).collect()
      .map(r => java.lang.Float.floatToIntBits(r.getAs[Float]("varied_value"))
        -> r.getAs[Double]("prediction"))
      .toMap
    val o = mapper.createObjectNode()
    o.put("model_version_used", s"model_$version")
    val a = o.putArray("analysis_results")
    variants.foreach { case (varVal, merged, outcome) =>
      val e = a.addObject()
      e.put("varied_feature", featName)
      e.set[ObjectNode]("value", varVal.deepCopy[JsonNode]())
      outcome match {
        case Right((f, _)) =>
          e.put("predicted_duration",
            predByValue(java.lang.Float.floatToIntBits(f(featName))))
          e.set[ObjectNode]("base_features_snapshot", merged)
        case Left(msg) =>
          e.put("error", msg)
          e.putNull("predicted_duration")
      }
    }
    (200, o)
  }

  /** Python `float(val)` at full 64-bit precision — for the duration
    * band bounds (api/api.py:249-250), which are NOT model features
    * (those go through the FloatType schema, [[pyFloat]]). Left carries
    * the EXACT CPython ValueError text api/api.py:255 interpolates into
    * its 400 body. Deliberate divergence, documented: CPython raises
    * TypeError (uncaught at api.py:254 → 500) for None/list/dict inputs;
    * a malformed payload field should be a 400, so those fold into the
    * same Left here. */
  private def pyDouble(v: JsonNode): Either[String, Double] =
    if (v.isNumber) Right(v.doubleValue())
    else if (v.isBoolean) Right(if (v.booleanValue()) 1.0 else 0.0)
    else if (v.isTextual)
      ApiServer.pyParseFloat(v.asText()).toRight(
        s"could not convert string to float: ${pyStrRepr(v.asText())}")
    else Left(s"could not convert to float: ${pyRepr(v)}")

  /** Python `int(val)` (api/api.py:251): ints pass, floats TRUNCATE
    * toward zero (NaN → the CPython ValueError), integer STRINGS parse;
    * anything else fails with the CPython message. */
  private def pyInt(v: JsonNode): Either[String, Int] =
    if (v.isNumber) {
      if (v.isDouble && v.doubleValue().isNaN)
        Left("cannot convert float NaN to integer")
      else Right(v.doubleValue().toInt)
    } else if (v.isBoolean) Right(if (v.booleanValue()) 1 else 0)
    else if (v.isTextual)
      try Right(v.asText().trim.toInt)
      catch { case _: NumberFormatException =>
        Left("invalid literal for int() with base 10: " +
          pyStrRepr(v.asText()))
      }
    else Left(s"could not convert to int: ${pyRepr(v)}")

  /** api/api.py:227-313: hour grid, band filter, sort by duration.
    * Durations/minute coerce like Python float()/int() — numeric strings
    * are valid, anything unparseable → the api.py:255 400; hours keep
    * only in-range JSON INTEGERS (isinstance(hour, int), api.py:262 —
    * 7.9 and "8" are skipped, not truncated); an empty valid-hour grid →
    * the api.py:282 200 message, not an empty suggestions run. */
  private def suggestOptimalTime(version: String, node: JsonNode): (Int, ObjectNode) = {
    import scala.jdk.CollectionConverters._
    val base = node.get("base_conditions")
    val hoursN = node.get("hours_to_evaluate")
    val maxN = node.get("target_duration_max")
    if (falsy(base) || falsy(hoursN) || maxN == null || maxN.isNull)
      return (400, err("Missing 'base_conditions', 'hours_to_evaluate', or 'target_duration_max'."))
    if (!hoursN.isArray)
      return (400, err("'hours_to_evaluate' must be a list of integers (0-23)."))
    val minN = node.get("target_duration_min")
    val minuteN = node.get("minute_of_hour")
    // api/api.py:249-255: conversions run in ORDER (max, min, minute) and
    // the first ValueError's own text lands in the 400 body
    val conv = for {
      mx <- pyDouble(maxN)
      mn <- if (minN == null || minN.isNull) Right(0.0) else pyDouble(minN)
      m <- if (minuteN == null || minuteN.isNull) Right(0) else pyInt(minuteN)
      _ <- if (m < 0 || m > 59)
        Left("minute_of_hour must be between 0 and 59.") else Right(())
    } yield (mx, mn, m)
    val (maxDur, minDur, minute) = conv match {
      case Right(t) => t
      case Left(ve) =>
        return (400, err(s"Invalid type for target durations or minute: $ve"))
    }
    validateFeatures(base) match {
      case Left(msg) => (400, err(msg))
      case Right((features, _)) =>
        // api/api.py:262 `0 <= hour <= 23 and isinstance(hour, int)`:
        // floats are skipped (isinstance fails); booleans PASS
        // (isinstance(True, int) is True → hour 1/0). Deliberate
        // divergence, documented: a STRING hour makes CPython's
        // `0 <= hour` raise TypeError (uncaught → 500); a malformed
        // list element should not take down the request, so strings
        // are skipped here like floats.
        val hours = hoursN.asInstanceOf[ArrayNode].elements().asScala.toSeq
          .collect {
            case h if h.isIntegralNumber && h.canConvertToInt => h.intValue()
            case h if h.isBoolean => if (h.booleanValue()) 1 else 0
          }
          .filter(h => h >= 0 && h <= 23)
        if (hours.isEmpty) {
          val o = mapper.createObjectNode()
          o.put("message", "No valid hours to evaluate after validation.")
          o.putArray("suggestions")
          return (200, o)
        }
        val rows = Endpoints.q3OptimalTime(spark, dir, version.toInt,
            hours, minute, minDur, maxDur, features).collect()
        val o = mapper.createObjectNode()
        o.put("model_version_used", s"model_$version")
        o.put("target_duration_min", minDur)
        o.put("target_duration_max", maxDur)
        val a = o.putArray("suggestions")
        rows.foreach { r =>
          val e = a.addObject()
          e.put("hour_of_day", r.getAs[Int]("hour"))
          e.put("minute_of_hour", minute)
          e.put("predicted_duration", r.getAs[Double]("prediction"))
          e.put("within_target_range", true)
        }
        (200, o)
    }
  }
}

object ApiServer {

  private val Decimal =
    """[+-]?(?:(?:\d(?:_?\d)*)?\.\d(?:_?\d)*|\d(?:_?\d)*\.?)(?:[eE][+-]?\d(?:_?\d)*)?""".r
  private val InfNan = """(?i)([+-]?)(inf|infinity|nan)""".r

  /** CPython's `float(str)` grammar: Unicode whitespace around, Unicode
    * decimal digits read as ASCII, an optional sign, then a decimal
    * literal whose digits may be grouped by single underscores
    * (`"1_000"`), or inf / infinity / nan in any case. None where CPython
    * raises ValueError — including the Java literal forms
    * `Double.parseDouble` accepts (`"2.5f"`, `"3d"`, `"0x1p3"`). Both
    * round a decimal to the nearest double. */
  private def pyParseFloat(s: String): Option[Double] = {
    def space(c: Char): Boolean = Character.isWhitespace(c) ||
      c == '\u0085' || c == '\u00a0' || c == '\u2007' || c == '\u202f'
    val t = s.map(c =>
        if (space(c)) ' '
        else if (c > 127 && Character.isDigit(c))
          ('0' + Character.digit(c, 10)).toChar
        else c)
      .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    t match {
      case Decimal() => Some(t.replace("_", "").toDouble)
      case InfNan(sign, word) =>
        Some(if (word.equalsIgnoreCase("nan")) Double.NaN
          else if (sign == "-") Double.NegativeInfinity
          else Double.PositiveInfinity)
      case _ => None
    }
  }
}
