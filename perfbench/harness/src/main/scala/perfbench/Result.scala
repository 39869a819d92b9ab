package perfbench

import scala.collection.mutable

/** What one harness process reports: metrics by name with their unit,
  * the operation counts and every failed check. Written as one JSON file
  * that run.py turns into the benchmark's result line.
  */
final class Result {
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val problems = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L
  /** Epoch ms at which the first timed operation started. */
  var firstTimedMs: Long = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def attempt(n: Long = 1L): Unit = attempted += n

  /** A failed operation or a failed output check. */
  def fail(why: String, n: Long = 1L): Unit = {
    failed += n
    problems += why
    System.err.println(s"[perfbench] FAILED: $why")
  }

  /** A run that cannot be trusted although no operation failed. */
  def invalid(why: String): Unit = {
    problems += why
    System.err.println(s"[perfbench] INVALID: $why")
  }

  def ok: Boolean = problems.isEmpty

  /** Run `body` as one attempted operation; an exception counts as failed. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempt()
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,""" +
      s""""first_timed_ms":$firstTimedMs,"problems":${problems.map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":$ms}"""
  }
}
