package graft.streaming

import graft.ml.{ModelRegistry, TrainedModel}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Request-scoring surface of the reference's prediction API — the routes
  * a fraud-platform user actually calls (ref ml/serving/api.py:198-259
  * POST /predict and /predict/batch, :261 GET /features, :279 POST
  * /model/reload), re-expressed over the engine's [[graft.ml.ModelRegistry]].
  *
  * Scale shape: request scoring is DRIVER-LOCAL model evaluation —
  * `GBTClassificationModel.predictProbability` on one dense vector — so a
  * request never launches a Spark job; cost is one tree-ensemble walk, the
  * same profile as the reference's in-process XGBoost call. The registry
  * version probe per request is one driver-side directory listing (file
  * metadata); the model artifact (KBs–MBs) reloads only when `latest`
  * moved, exactly the [[StreamScoring.HotModelScorer]] contract. Because
  * both paths end in the same `predictProbability` code, a served
  * probability bit-matches batch `transform` scoring by the same version —
  * the serving/batch parity the reference only gets approximately.
  *
  * Request schema: the graft 25-feature inventory
  * ([[graft.ml.TrainedModel.FeatureCols]]) plays the role of the
  * reference's NUMERIC_FEATURES; like the reference's pydantic model
  * (api.py:93-133), `transaction_id` and `total_amount` are required,
  * every other feature is optional with a documented default, bounds are
  * validated (422 on violation, FastAPI's validation status), and unknown
  * fields are ignored. `amount_log` defaults to ln(1 + total_amount) — the
  * exact transform the feature pipeline applies (FraudScore.featureVector).
  *
  * One deliberate deviation: the reference rounds `fraud_probability` to 4
  * decimals for display (api.py:216); graft serializes the full double
  * (`Double.toString` round-trips exactly) so the response preserves
  * serving/batch bit-parity. Risk levels are computed on the unrounded
  * probability with the reference's thresholds (api.py:165-175).
  */
object ServingApi {

  /** Risk-level mapping, verbatim thresholds from api.py:165-175. */
  def scoreToRisk(prob: Double): String =
    if (prob >= 0.80) "critical"
    else if (prob >= 0.60) "high"
    else if (prob >= 0.35) "elevated"
    else if (prob >= 0.15) "moderate"
    else "low"

  /** Max batch size, from api.py:141 (`max_items=1000`). */
  val MaxBatchItems = 1000

  /** Optional-feature bounds: (min, max) where a bound applies. Flags are
    * 0/1, counts and amounts non-negative, rates/risks in [0,1],
    * tier_encoded spans the 5 amount tiers; account_balance is the one
    * legitimately unbounded feature (negative = overdrawn). */
  private val Bounds: Map[String, (Option[Double], Option[Double])] = {
    val nonNeg = (Some(0.0), None): (Option[Double], Option[Double])
    val flag = (Some(0.0), Some(1.0)): (Option[Double], Option[Double])
    Map(
      "total_amount" -> nonNeg, "amount_log" -> nonNeg,
      "order_month" -> (Some(1.0), Some(12.0)),
      "order_dow" -> (Some(1.0), Some(7.0)),
      "is_weekend" -> flag,
      "user_order_count" -> nonNeg, "user_avg_amount" -> nonNeg,
      "user_max_amount" -> nonNeg, "user_min_amount" -> nonNeg,
      "amount_vs_user_avg" -> nonNeg, "user_p95_amount" -> nonNeg,
      "amount_vs_user_p95" -> nonNeg,
      "account_age_days" -> nonNeg,
      "velocity_7d" -> nonNeg, "velocity_30d" -> nonNeg, "velocity_90d" -> nonNeg,
      // refund_rate is refunded LINEITEMS over orders+1 (FraudScore:161),
      // so it legitimately exceeds 1 — only non-negativity is enforced
      "refund_count_30d" -> nonNeg, "user_refund_count" -> nonNeg,
      "refund_rate" -> nonNeg,
      "tier_encoded" -> (Some(0.0), Some(4.0)),
      "is_priority_order" -> flag,
      "region_risk" -> flag, "is_high_risk_region" -> flag,
      "negative_balance" -> flag,
      "account_balance" -> ((None, None): (Option[Double], Option[Double])))
  }

  /** Defaults for omitted optional features — a "typical legitimate
    * transaction" prior, the same stance as the reference's pydantic
    * defaults (first order of an established account, no velocity, no
    * refunds, low-risk region). Amount-relative features default to the
    * posted amount itself (a single-order history). */
  private def defaultsFor(totalAmount: Double): Map[String, Double] = Map(
    "amount_log" -> math.log(1.0 + totalAmount),
    "order_month" -> 6.0, "order_dow" -> 4.0, "is_weekend" -> 0.0,
    "user_order_count" -> 1.0,
    "user_avg_amount" -> totalAmount, "user_max_amount" -> totalAmount,
    "user_min_amount" -> totalAmount, "amount_vs_user_avg" -> 1.0,
    "user_p95_amount" -> totalAmount, "amount_vs_user_p95" -> 1.0,
    "account_age_days" -> 365.0,
    "velocity_7d" -> 0.0, "velocity_30d" -> 0.0, "velocity_90d" -> 0.0,
    "refund_count_30d" -> 0.0, "user_refund_count" -> 0.0, "refund_rate" -> 0.0,
    "tier_encoded" -> 0.0, "is_priority_order" -> 0.0,
    "region_risk" -> 0.02, "is_high_risk_region" -> 0.0,
    "negative_balance" -> 0.0, "account_balance" -> 0.0)

  /** A validated request row: id + the 25 features in FeatureCols order. */
  final case class Txn(transactionId: String, features: Array[Double])

  /** Validation failure → 422 with this message. */
  final case class ValidationError(detail: String) extends Exception(detail)

  private def asDouble(name: String, v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => throw ValidationError(
      s"field '$name' must be a number, got ${other.getClass.getSimpleName}")
  }

  /** Parse + validate one transaction object (mirrors TransactionFeatures,
    * api.py:93-133: required id + amount, bounded optionals, defaults). */
  def parseTxn(j: JValue): Txn = j match {
    case JObject(fields) =>
      val m = fields.toMap
      val id = m.getOrElse("transaction_id",
        throw ValidationError("field 'transaction_id' is required")) match {
        case JString(s) => s
        case _ => throw ValidationError("field 'transaction_id' must be a string")
      }
      val total = asDouble("total_amount", m.getOrElse("total_amount",
        throw ValidationError("field 'total_amount' is required")))
      val defaults = defaultsFor(total)
      val feats = TrainedModel.FeatureCols.map { f =>
        val v = m.get(f) match {
          case Some(JNull) | None => defaults.getOrElse(f, total) // total_amount itself
          case Some(jv) => asDouble(f, jv)
        }
        Bounds.get(f).foreach { case (lo, hi) =>
          if (lo.exists(v < _) || hi.exists(v > _))
            throw ValidationError(s"field '$f' = $v out of range " +
              s"[${lo.map(_.toString).getOrElse("-inf")}, ${hi.map(_.toString).getOrElse("inf")}]")
        }
        v
      }.toArray
      Txn(id, feats)
    case _ => throw ValidationError("transaction must be a JSON object")
  }

  /** Parse a /predict/batch body: `{"transactions": [...]}`, ≤ 1000 items
    * (api.py:141). */
  def parseBatch(j: JValue): Seq[Txn] = j match {
    case JObject(fields) =>
      fields.toMap.get("transactions") match {
        case Some(JArray(items)) =>
          if (items.size > MaxBatchItems)
            throw ValidationError(
              s"transactions has ${items.size} items, max $MaxBatchItems")
          items.map(parseTxn)
        case Some(_) => throw ValidationError("'transactions' must be an array")
        case None => throw ValidationError("field 'transactions' is required")
      }
    case _ => throw ValidationError("request body must be a JSON object")
  }

  /** Parse a request body; jackson parse failures surface as Left (→ 400,
    * distinct from a well-formed-but-invalid body's 422). */
  def parseJson(body: String): Either[String, JValue] =
    try Right(JsonMethods.parse(body))
    catch { case e: com.fasterxml.jackson.core.JacksonException =>
      Left(s"malformed JSON: ${e.getOriginalMessage}") }

  // ---- driver-local hot scorer ---------------------------------------------

  /** One prediction's scored fields. */
  final case class Scored(txn: Txn, probability: Double, isFraud: Boolean,
                          riskLevel: String, version: Long)

  /** Registry-backed request scorer: resolves `latest` per request (one
    * directory listing), reloads the GBT artifact only when the version
    * moved, scores driver-locally via `predictProbability`. The same
    * version-caching contract as [[StreamScoring.HotModelScorer]], shared
    * across the single, batch, reload and features routes. */
  final class HotRequestScorer(spark: SparkSession, registryRoot: String,
                               name: String, val fraudThreshold: Double = 0.5) {
    private val models = new StreamScoring.LatestVersion(registryRoot, name,
      (s, v) => ModelRegistry.loadGbt(s, registryRoot, name, Some(v)))

    def loadedVersion: Option[Long] = models.loadedVersion

    /** Score one validated transaction; None = no model committed yet
      * (routes answer 503). */
    def score(txn: Txn): Option[Scored] = models.latest(spark).map { case (v, m) =>
      val p = m.predictProbability(Vectors.dense(txn.features))(1)
      Scored(txn, p, p >= fraudThreshold, scoreToRisk(p), v)
    }

    /** Score a parsed batch with ONE version resolve — every row of a
      * batch scores under the same model version, like the reference's
      * single `predict_proba` call over the assembled frame. */
    def scoreBatch(txns: Seq[Txn]): Option[Seq[Scored]] =
      models.latest(spark).map { case (v, m) =>
        txns.map { t =>
          val p = m.predictProbability(Vectors.dense(t.features))(1)
          Scored(t, p, p >= fraudThreshold, scoreToRisk(p), v)
        }
      }

    /** POST /model/reload: drop the cache and force a re-resolve; returns
      * the freshly loaded version (None if the registry is empty). The
      * routes already hot-reload implicitly per request — the explicit
      * route exists for api.py:279 parity and for forcing a reload probe
      * from operations tooling. */
    def reload(): Option[Long] = {
      models.clear()
      models.latest(spark).map(_._1)
    }

    /** GET /features: (name, importance) sorted by importance desc, plus
      * the version they describe (api.py:261-270 sorts the same way).
      * Driver-side read off the loaded ensemble — no Spark job (unlike
      * GbtModel.importancesOf, which builds a DataFrame for the query
      * surface). */
    def importances(): Option[(Seq[(String, Double)], Long)] =
      models.latest(spark).map { case (v, m) =>
        (TrainedModel.FeatureCols.zip(m.featureImportances.toArray)
          .sortBy { case (n, i) => (-i, n) }, v)
      }
  }

  // ---- response JSON --------------------------------------------------------

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision, locale-stable double rendering (Double.toString
    * round-trips the bits; JSON numbers accept the E notation). */
  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def round(v: Double, digits: Int): Double = {
    val f = math.pow(10, digits)
    math.rint(v * f) / f
  }

  /** PredictionResponse (api.py:136-142), full-precision probability. */
  def predictionJson(s: Scored, latencyMs: Double): String =
    s"""{"transaction_id": ${jsonStr(s.txn.transactionId)}, """ +
      s""""fraud_probability": ${jsonNum(s.probability)}, """ +
      s""""is_fraud": ${s.isFraud}, """ +
      s""""risk_level": ${jsonStr(s.riskLevel)}, """ +
      s""""model_version": ${s.version}, """ +
      s""""latency_ms": ${jsonNum(round(latencyMs, 3))}}"""

  /** BatchPredictionResponse (api.py:145-149). */
  def batchJson(scored: Seq[Scored], latencyMs: Double): String = {
    val per = if (scored.isEmpty) 0.0 else latencyMs / scored.size
    val preds = scored.map(predictionJson(_, per)).mkString(", ")
    s"""{"predictions": [$preds], "total": ${scored.size}, """ +
      s""""fraud_detected": ${scored.count(_.isFraud)}, """ +
      s""""latency_ms": ${jsonNum(round(latencyMs, 2))}}"""
  }

  /** GET /features response (api.py:261-270 shape, importances to 6dp
    * like the reference's `round(v, 6)`). */
  def featuresJson(imps: Seq[(String, Double)]): String = {
    val items = imps.map { case (n, i) =>
      s"""{"name": ${jsonStr(n)}, "importance": ${jsonNum(round(i, 6))}}"""
    }.mkString(", ")
    s"""{"features": [$items]}"""
  }

  def errorJson(detail: String): String = s"""{"detail": ${jsonStr(detail)}}"""

  /** POST /model/reload response (api.py:285). */
  def reloadJson(version: Long): String =
    s"""{"status": "ok", "version": $version}"""
}
