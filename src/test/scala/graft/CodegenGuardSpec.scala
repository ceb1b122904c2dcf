package graft

import org.apache.logging.log4j.LogManager
import org.scalatest.funsuite.AnyFunSuite

/** Proves the CodegenGuard appender observes CodeGenerator compile
  * failures. Deliberately NOT a SparkSpec: the synthetic event below
  * must not trip the real per-suite assertion. Other suites are
  * unaffected — each samples its baseline in its own beforeAll. */
class CodegenGuardSpec extends AnyFunSuite {

  test("guard counts a CodeGenerator 'Failed to compile' error") {
    CodegenGuard.install()
    val before = CodegenGuard.failures
    // same logger-name shape Spark uses; the guard matches on the
    // suffix so package differences don't hide real events
    val log = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    log.error("Failed to compile the generated Java code. (synthetic guard-spec event)")
    assert(CodegenGuard.failures == before + 1,
      "appender did not observe the synthetic compile failure")
    assert(CodegenGuard.lastFailure.contains("synthetic guard-spec event"))
  }

  test("guard ignores unrelated errors and other loggers") {
    CodegenGuard.install()
    val before = CodegenGuard.failures
    LogManager.getLogger("org.apache.spark.SomethingElse")
      .error("Failed to compile the generated Java code.")
    LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .error("some other error")
    assert(CodegenGuard.failures == before)
  }

  test("guard string is pinned against the bundled Spark's real Janino path") {
    // The synthetic tests above would keep passing if a Spark upgrade
    // reworded the log line; this one drives broken Java through the
    // REAL CodeGenerator.compile so the event carries whatever message
    // the bundled dependency actually emits ("Failed to compile: …" in
    // 4.1.2, from QueryExecutionErrors.failedToCompileMsg).
    CodegenGuard.install()
    // CodeGenerator sizes its JVM-global class cache from the conf of
    // the first code generation; build the shared session first so a
    // session-less compile here cannot pin Spark's default size for
    // every later suite (CodegenCacheSpec)
    SparkSpec.session
    val before = CodegenGuard.failures
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
    val bad = new CodeAndComment(
      "public Object generate(Object[] references) { this does not parse }",
      scala.collection.Map.empty[String, String])
    intercept[Throwable] { CodeGenerator.compile(bad) }
    assert(CodegenGuard.failures == before + 1,
      "the real Janino compile failure did not reach the guard — the " +
        "bundled Spark's log message no longer matches 'Failed to compile'")
  }

  test("identify-validated aggregate compiles: the Expand repro stays fixed") {
    // The original failure: identifyColumnsValidated's count_distinct
    // Expand duplicated the parseDateFlexible chain per projection,
    // blowing Janino's 64KB method limit. Re-run the shape against the
    // shared session and assert zero new failures.
    val spark = SparkSpec.session
    import spark.implicits._
    val before = CodegenGuard.failures
    val df = Seq(
      ("2020-01-02 10:11:12", "10:11", "x"),
      ("2021-03-04 11:12:13", "23:59", "y")
    ).toDF("incident_date", "incident_time", "other")
    val m = graft.ops.Identify.identifyColumnsValidated(df)
    assert(m.get("DATE").contains("incident_date"))
    assert(m.get("TIME").contains("incident_time"))
    assert(CodegenGuard.failures == before,
      s"identify aggregate failed codegen: ${CodegenGuard.lastFailure}")
  }
}
