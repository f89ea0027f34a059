package graft

import graft.ext.Pii

/** x46 PII redaction: the pure function on hand-built rows — the
  * registry oracle proves cross-engine regex parity on planted PII;
  * this pins the redaction semantics themselves. */
class PiiSpec extends SparkSuite {
  import spark.implicits._

  private def red(s: String): String =
    Seq(s).toDF("t").select(Pii.redact($"t").as("r")).as[String].head()

  test("redacts emails, phones, and IPs to typed placeholders") {
    assert(red("reach bob.smith+x@sub.domain.co today") == "reach <EMAIL> today")
    assert(red("call 555-123-4567 now") == "call <PHONE> now")
    assert(red("host 192.168.0.1 up") == "host <IP> up")
    assert(red("a@b.co 555-123-4567 10.0.0.1") == "<EMAIL> <PHONE> <IP>")
  }

  test("multiple occurrences all redact (global replace)") {
    assert(red("x@y.io then z@w.ai") == "<EMAIL> then <EMAIL>")
    assert(red("10.0.0.1 10.0.0.2") == "<IP> <IP>")
  }

  test("ordering: an IP-shaped domain inside a non-matching email still redacts as IP") {
    // 'a@10.0.0.1' is not an email under the TLD-alpha rule, so the IP
    // pass (running last) catches the address part.
    assert(red("a@10.0.0.1") == "a@<IP>")
    // but digits inside a REAL email redact with it, not as phone/IP
    assert(red("v1.2.3.4@mail.com") == "<EMAIL>")
  }

  test("clean text passes through byte-identical") {
    val t = "the fast key order sort 12345 1.2 a-b"
    assert(red(t) == t)
  }
}
