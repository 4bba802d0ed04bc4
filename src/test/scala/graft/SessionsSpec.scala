package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains' flag parser: a malformed argument list fails naming the bad
  * token instead of running with a default. */
class SessionsSpec extends AnyFunSuite {

  private val known = Set("pages", "out", "retry-failed", "io")

  private def failure(args: String*): String =
    intercept[IllegalArgumentException](Sessions.flags(args.toArray, known)).getMessage

  test("a flag given last with no value fails") {
    assert(failure("--pages", "p", "--retry-failed").contains("--retry-failed"))
  }

  test("an unknown or misspelled flag fails") {
    assert(failure("--pages", "p", "--retry_failed", "true").contains("--retry_failed"))
    assert(failure("--IO", "iceberg").contains("--IO"))
  }

  test("a stray token that is not a flag fails") {
    assert(failure("--pages", "p", "stray", "--out", "o").contains("stray"))
  }

  test("a well-formed list parses to its key-value map") {
    val args = Array("--pages", "p", "--out", "o", "--io", "iceberg", "--retry-failed", "true", "--out", "o2")
    val want = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    assert(Sessions.flags(args, known) == want)
    assert(want == Map("pages" -> "p", "out" -> "o2", "io" -> "iceberg", "retry-failed" -> "true"))
    assert(Sessions.flags(Array.empty, known) == Map.empty)
  }
}
