package graft

import java.util.regex.Pattern

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.llmops.Pii

/** X7 PII contract (SURVEY §2.10): the six-class pattern set, the fixed
  * redaction order, and the two structural properties the object doc
  * claims — idempotence and ORDER TOTALITY (after the full chain runs,
  * no class pattern matches the redacted output: residues of
  * asymmetric overlaps never re-form a complete match of any class).
  *
  * The properties are checked at ScalaCheck volume against
  * [[Pii.redactLocal]] (the same `java.util.regex` automaton Spark's
  * RegExpReplace executes); one generated batch is first pinned
  * Spark ≡ local ≡ SQL `pii_redact`, so the volume runs transfer to the
  * distributed surfaces. Generators deliberately emit overlap
  * boundaries: partial phone/card prefixes, digit runs, hex-colon runs,
  * PII fragments glued with `+`/`-`/`.`/`:`/`@` separators.
  */
class PiiSpec extends SparkSpec {
  import spark.implicits._

  private def countLocal(re: String, s: String): Int = {
    val m = Pattern.compile(re).matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  test("international phone class: documented forms in, run-together forms out") {
    assert(Pii.redactLocal("call +1-555-123-4567 now") === "call <INTL> now")
    assert(Pii.redactLocal("ring +44 20 7946 0958.") === "ring <INTL>.")
    assert(Pii.redactLocal("jp +81 3 1234 5678") === "jp <INTL>")
    // run-together form is out of the supported subset (documented)
    assert(Pii.redactLocal("+442079460958") === "+442079460958")
    // intl runs BEFORE the NANP class, so the +CC form takes the whole
    // span instead of stranding a dangling "+1-"
    assert(countLocal(Pii.phoneRe, "+1-555-123-4567") === 1) // counted on original
    assert(Pii.redactLocal("+1-555-123-4567") === "<INTL>")
  }

  test("IPv6 class: full + ::-compressed forms in, bare-:: forms out, v4-mapped tail goes to IPv4") {
    assert(Pii.redactLocal("at 2001:0db8:85a3:0000:0000:8a2e:0370:7334 end")
      === "at <IPV6> end")
    assert(Pii.redactLocal("host 2001:db8::1 up") === "host <IPV6> up")
    assert(Pii.redactLocal("x 2001:db8::8a2e:370:7334 y") === "x <IPV6> y")
    // out of the documented subset: bare-:: shorthand forms
    assert(Pii.redactLocal("lo ::1 and fe80:: here") === "lo ::1 and fe80:: here")
    // IPv4-mapped: the dotted quad is still caught by the IPv4 class
    assert(Pii.redactLocal("m ::ffff:10.0.0.7 n") === "m ::ffff:<IP> n")
    // a clock time must not be an IPv6
    assert(Pii.redactLocal("at 12:30 on 2024") === "at 12:30 on 2024")
  }

  // -- generators: PII forms, their partial residues, and hostile glue --

  private val word = Gen.oneOf("lorem", "ipsum", "data", "xyz", "Ab9")
  private val email = for {
    u <- Gen.oneOf("u1", "a.b+tag", "x_%9")
    d <- Gen.oneOf("example.com", "e-f.org", "mail.co")
  } yield s"$u@$d"
  private def g(n: Int): Gen[String] =
    Gen.listOfN(n, Gen.numChar).map(_.mkString)
  private val phone = for { a <- g(3); b <- g(3); c <- g(4) } yield s"$a-$b-$c"
  private val card = for { a <- g(4); b <- g(4); c <- g(4); d <- g(4) } yield s"$a-$b-$c-$d"
  private val intl = for {
    cc <- Gen.choose(1, 999); sep <- Gen.oneOf(" ", "-")
    a <- Gen.choose(1, 4).flatMap(g); b <- Gen.choose(3, 4).flatMap(g)
    c <- Gen.choose(3, 4).flatMap(g)
  } yield s"+$cc$sep$a$sep$b$sep$c"
  private val ipv4 = Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
  private val hexGroup = Gen.choose(1, 4).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("0123456789abcdefABCDEF".toSeq)).map(_.mkString))
  private val ipv6Full = Gen.listOfN(8, hexGroup).map(_.mkString(":"))
  private val ipv6Comp = for {
    l <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, hexGroup))
    r <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, hexGroup))
  } yield l.mkString(":") + "::" + r.mkString(":")
  private val partial = Gen.oneOf(
    "555-123-", "-4567", "4111-1111-", "1111-1111", "+44-", "+9",
    "2001:db8:", "::", ":1", "12:30", "999-999", "10.0.0.", ".7",
    "12345678901234567890", "a@b", "@example.com", "%")
  private val fragment = Gen.frequency(
    (4, word), (2, email), (2, phone), (2, card), (2, intl),
    (2, ipv4), (1, ipv6Full), (1, ipv6Comp), (3, partial))
  private val glue = Gen.oneOf(" ", "", "-", ".", ":", "+", "@", " +", ". ")
  private val text: Gen[String] = for {
    n <- Gen.choose(1, 12)
    frags <- Gen.listOfN(n, fragment)
    seps <- Gen.listOfN(n, glue)
  } yield frags.zip(seps).map { case (f, s) => f + s }.mkString

  private def sample(n: Int, seed: Long): List[String] =
    Gen.listOfN(n, text).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("gen failed"))

  test("Spark redact == SQL pii_redact == local twin on an adversarial generated batch") {
    val texts = sample(300, 42L)
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    df.createOrReplaceTempView("pii_prop_docs")
    val viaCol = df.select(col("i"), Pii.redact(col("t")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val viaSql = spark.sql("SELECT i, pii_redact(t) AS r FROM pii_prop_docs")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val local = Pii.redactLocal(t)
      assert(viaCol(i) === local, s"Column API diverged on: $t")
      assert(viaSql(i) === local, s"SQL surface diverged on: $t")
    }
  }

  test("property: redaction is idempotent and the order is total — no class matches the redacted output") {
    for (seed <- 1L to 10L) {
      sample(200, seed).foreach { t =>
        val red = Pii.redactLocal(t)
        assert(Pii.redactLocal(red) === red, s"not idempotent (seed=$seed): $t")
        Pii.classes.foreach { c =>
          assert(countLocal(c.re, red) === 0,
            s"class ${c.name} matches a residue (seed=$seed) in: $red  (from: $t)")
        }
      }
    }
  }

  test("detection counts are computed on the original text, independent of redaction order") {
    // the overlap case from the object doc: phone ends on the digit
    // group the card starts with — both count, card wins the redaction
    val t = "call 555-123-4567-1111-1111-1111"
    assert(countLocal(Pii.phoneRe, t) === 1 && countLocal(Pii.cardRe, t) === 1)
    assert(Pii.redactLocal(t) === "call 555-123-<CARD>")
    // signals() mirrors the same on-original semantics through Spark
    val row = Seq(t).toDF("text")
      .select(Pii.signals(col("text")): _*).collect()(0)
    assert(row.getAs[Int]("n_phone") === 1 && row.getAs[Int]("n_card") === 1)
  }
}
