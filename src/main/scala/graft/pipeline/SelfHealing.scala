package graft.pipeline

import scala.util.control.NonFatal
import scala.util.matching.Regex

/** Rule-based failure classification + code/config repair — the engine-side
  * re-expression of the reference's healing loop (SURVEY §2.11 D3-D5):
  * on-failure callback → log fetch → Gemini classification → regex patch →
  * rerun (`dag/self_healing_pipeline.py:27-144`, `utils/auto_healer.py:4-120`,
  * `utils/vertex_ai_handler.py:5-90`). The LLM step is replaced by the
  * regex rules the reference itself applies in `auto_healer.py:92-120`;
  * everything is local and deterministic.
  */
final case class ErrorClassification(
    errorType: String, rootCause: String, fixType: String, suggestedFix: String)

object ErrorClassifier {

  /** Classify an error text (exception message / captured stderr). Patterns
    * mirror the reference's fix rules (`auto_healer.py:97-117`): the seeded
    * double-dot table reference, table-not-found, OOM, permissions, syntax. */
  /** A table-reference-shaped double dot, as in the seeded
    * `selfhealing..output_table` (`scripts/transform_script:13`).
    *
    * The reference's bare `contains("..")` also matches free-text ellipses —
    * including any whitespace-isolated ` ... `, unspaced `wait...done`,
    * quoted `'...'`, and the `[snip]` separator
    * [[AutoHealer.extractErrorContext]] inserts into long logs — misrouting
    * every such error here (and the double-dot branch runs FIRST, so an OOM
    * whose message merely contains an ellipsis would be classified
    * table_reference). A ref-shaped run is EXACTLY two dots: both neighbors
    * non-space and non-dot (covers plain `a..b` AND backtick-quoted
    * `` `project`..`dataset` ``), or two dots ending the input after a
    * word/backtick char (a truncated ref at end of message). Any 3+-dot run
    * is conventionally an ellipsis — `docs...`, `a...b`, `'...'`,
    * `Retrying...` — and never matches. */
  private val doubleDotRef: Regex = """[^\s.]\.\.(?!\.)[^\s.]|[\w`]\.\.(?!\.)$""".r

  def classify(errorText: String): ErrorClassification = {
    val t = errorText
    if (doubleDotRef.findFirstIn(t).isDefined ||
        t.matches("(?s).*Malformed table reference.*"))
      ErrorClassification("table_reference", "Malformed table reference (double dot)",
        "code_patch", "Replace '..'+ with '.' in the table reference")
    else if (Regex("(?i)not found:? table|table .* not found|TableNotFound").unanchored
        .findFirstIn(t).isDefined)
      ErrorClassification("missing_table", "Referenced table does not exist",
        "config_change", "Verify the input table name and dataset")
    else if (Regex("(?i)OutOfMemory|java heap space|GC overhead").unanchored
        .findFirstIn(t).isDefined)
      ErrorClassification("oom", "Executor/driver out of memory",
        "config_change", "Increase executor memory or reduce partition size")
    else if (Regex("(?i)permission|access denied|forbidden").unanchored
        .findFirstIn(t).isDefined)
      ErrorClassification("permission", "Insufficient permissions on source/sink",
        "config_change", "Grant the job service account access")
    else if (Regex("(?i)syntax error|ParseException").unanchored.findFirstIn(t).isDefined)
      ErrorClassification("syntax", "Job code syntax error",
        "code_patch", "Fix the reported syntax error")
    else
      ErrorClassification("unknown", "Unclassified failure", "manual",
        "Manual investigation required")
  }

  private def Regex(s: String): Regex = s.r

  /** API-parity alias (`vertex_ai_handler.analyze_error`, SURVEY §7.5). */
  def analyzeError(errorText: String): ErrorClassification = classify(errorText)
}

object AutoHealer {

  /** Repair for the seeded bug class: collapse a run of dots in a table
    * reference (`auto_healer.py:97-101`). The reference's raw
    * `re.sub(r'\.\.+', '.', ...)` would also collapse free-text ellipses
    * anywhere in the artifact (e.g. a `"..."` inside a string literal or
    * comment); we require word characters or backticks on both sides so
    * only ref-shaped `a..b` / `` `a`..`b` `` runs are touched. */
  def fixDoubleDots(text: String): String =
    text.replaceAll("(?<=[\\w`])\\.\\.+(?=[\\w`])", ".")

  /** Apply the classified fix to a job artifact (script text or table ref). */
  def applyFix(artifact: String, c: ErrorClassification): String = c.errorType match {
    case "table_reference" => fixDoubleDots(artifact)
    case _ => artifact
  }

  /** API-parity alias (`vertex_ai_handler.suggest_fix`, SURVEY §7.5). */
  def suggestFix(c: ErrorClassification): String = c.suggestedFix

  /** Traceback extraction (`dag/self_healing_pipeline.py:100-115`): slice
    * 4000 chars from the first "Traceback"; otherwise head 2000 + tail 2000.
    * The snip separator deliberately contains no consecutive dots so it can
    * never be mistaken for the double-dot table-reference error class. */
  def extractErrorContext(log: String): String = {
    val idx = log.indexOf("Traceback")
    if (idx >= 0) log.substring(idx, math.min(log.length, idx + 4000))
    else if (log.length <= 4000) log
    else log.take(2000) + "\n[snip]\n" + log.takeRight(2000)
  }
}

/** Bounded-retry combinator (SURVEY §2.11 D3 — Airflow `retries` /
  * `retry_delay`, `dag/financial_monitoring_dag.py:45-50`). */
object Retry {
  def apply[T](attempts: Int, delayMs: Long = 0)(f: => T): T = {
    // attempts <= 0 would skip the loop and `throw last` with last == null
    // — a bare NullPointerException masking the caller's bad config
    require(attempts >= 1, s"Retry: attempts must be >= 1, got $attempts")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        // fatal throwables (OOM, interrupts, linkage errors) escape on the
        // first attempt: retrying them hides a dying JVM or a cancellation
        case NonFatal(e) =>
          last = e
          i += 1
          if (i < attempts && delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw last
  }
}

/** One healing attempt record, for observability parity with the reference's
  * healing report (`dag/self_healing_pipeline.py:117-144`). */
final case class HealingAttempt(
    attempt: Int, errorContext: String, classification: ErrorClassification,
    healed: Boolean)

/** Catch → classify → patch → bounded rerun (SURVEY §2.11 D4).
  *
  * `run` executes `job` on `artifact` (a script text, table reference, or
  * any config string). On failure it extracts the error context, classifies,
  * applies [[AutoHealer.applyFix]], and reruns with the patched artifact —
  * at most `maxAttempts` times, mirroring the reference's one-fix-per-run
  * loop (next scheduled DAG run picks up the patched script).
  */
final class SelfHealingRunner(maxAttempts: Int = 3) {

  def run[T](artifact: String)(job: String => T): (T, Seq[HealingAttempt]) = {
    val attempts = scala.collection.mutable.ArrayBuffer.empty[HealingAttempt]
    var current = artifact
    var i = 0
    while (true) {
      try {
        return (job(current), attempts.toSeq)
      } catch {
        case NonFatal(e) =>
          i += 1
          val ctx = AutoHealer.extractErrorContext(
            Option(e.getMessage).getOrElse(e.toString))
          val cls = ErrorClassifier.classify(ctx)
          val patched = AutoHealer.applyFix(current, cls)
          val healed = patched != current
          attempts += HealingAttempt(i, ctx, cls, healed)
          if (i >= maxAttempts || !healed) throw e
          current = patched
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
