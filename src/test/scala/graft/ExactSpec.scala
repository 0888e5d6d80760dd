package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Exact.{Basis, Dec, Micro, Nano, Pico}
import graft.perf.Performance

/** The exact-sum policy in [[Exact]]: each helper builds the expression
  * the sites wrote by hand, the boundaries no catalog query reaches, and
  * the ban on hand-written copies of the policy. */
class ExactSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: Column): Any = spark.range(1).select(c).head().get(0)

  test("each helper builds the hand-written expression") {
    val x = col("x"); val n = col("n")
    def same(a: Column, b: Column): Unit = assert(a.toString == b.toString)
    same(Pico(x), round(x * 1e12))
    same(Pico.long(x), round(x * 1e12).cast("long"))
    same(Micro.dec(x), round(x * 1e6).cast("decimal(38,0)"))
    same(Nano.long(x), round(x * 1e9).cast("long"))
    same(Basis(x), round(x * 1e4))
    same(Micro.ratio(x, n), round(x.cast("double") * 1e6 / n))
    same(Pico.inv(x), round(lit(1e12) / x))
    same(Pico.back(x), x.cast("double") / 1e12)
    same(Micro.mean(x, n), round(x.cast("double") / n) / 1e6)
    same(Exact.decSum(x), sum(x.cast("decimal(38,0)")))
    assert(Dec == org.apache.spark.sql.types.DecimalType(38, 0))
    assert(Pico.unit == 1000000000000L && Micro.factor == 1e6)
  }

  test("ties round HALF_UP in a column, toward +inf in Scale.of") {
    val t = 2.5e-6
    assert(t * Micro.factor == 2.5, "the test value must scale to an exact tie")
    assert(one(Micro.long(lit(t))) == 3L)
    assert(one(Micro.long(lit(-t))) == -3L)
    assert(one(Micro.dec(lit(-t))) == java.math.BigDecimal.valueOf(-3L))
    // math.round is floor(x + 0.5), and Scale.of keeps it
    assert(Micro.of(t) == 3L)
    assert(Micro.of(-t) == -2L)
  }

  test("-0.0 quantizes to integer 0 and comes back as +0.0") {
    assert(one(Pico.long(lit(-0.0))) == 0L)
    val back = one(Pico.back(Pico.long(lit(-0.0)))).asInstanceOf[Double]
    assert(back == 0.0 && 1.0 / back > 0, s"expected +0.0, got $back")
  }

  test("a return at MaxAbsReturn is exact in a long; past Long.MaxValue it saturates") {
    val m = Performance.MaxAbsReturn
    assert(one(Pico.long(lit(m))) == 9000000000000000000L)
    assert(one(Pico.long(lit(-m))) == -9000000000000000000L)
    assert(one(Pico.back(Pico.long(lit(m)))) == m)
    // non-ANSI casts clamp: a term past the bound is silently wrong,
    // which is why Performance raises on it instead
    assert(one(Pico.long(lit(1.0e7))) == Long.MaxValue)
  }

  test("a decimal sum of long terms does not wrap where a long sum does") {
    val terms = Seq(9000000000000000000L, 9000000000000000000L).toDF("p")
    val row = terms.agg(Exact.decSum(col("p")), sum(col("p"))).head()
    assert(row.getDecimal(0) == new java.math.BigDecimal("18000000000000000000"))
    assert(row.getLong(1) < 0, "the long sum wraps")
  }

  test("no src/main graft file outside Exact.scala and the oracle tables " +
    "names the accumulator type or quantizes by a policy scale inside round(") {
    val offenders = ExactSpec.offenders(Paths.get("src/main/scala/graft"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the guard reads across line breaks and skips comments, strings " +
    "and output rounding") {
    val root = Files.createTempDirectory("exact_guard")
    Files.write(root.resolve("Site.scala"), Seq(
      "// round(x * 1e12) and DecimalType(38, 0) in a comment",
      "val a = round(col(\"x\")",
      "  * 1e12).cast(\"long\")",
      "val b = sum(col(\"y\").cast(\"decimal(38,0)\"))",
      "val c = round(col(\"s\").cast(\"double\") / 1e12, 6)",
      "val d = round(col(\"x\") * 1e6, 0)",
      "val e = \"round(x * 1e6)\"").mkString("\n").getBytes("UTF-8"))
    val found = ExactSpec.offenders(root).map(_.replaceAll(".*Site.scala:", ""))
    assert(found == List("4: names the accumulator type; use Exact.Dec",
      "2: quantizes inside round(; use an Exact scale",
      "6: quantizes inside round(; use an Exact scale"), found)
  }
}

object ExactSpec {

  /** Files the guard skips: the policy itself and the DuckDB reference
    * SQL, which spells the same discipline in SQL. */
  val Skipped = Set("Exact.scala", "Oracles.scala", "OraclesB.scala", "OracleCtes.scala",
    "TextOracles.scala", "TextOraclesB.scala", "TextOracleCtes.scala")

  /** (file, text of the round call) pairs the guard allows, each with its
    * reason. */
  val Allowed: Map[(String, String), String] = Map(
    ("panel/Panel.scala", "round(col(\"__la\") - lit(beta) * col(\"__lb\") - lit(alpha * Micro.factor))") ->
      ("alpha is a plain Scala double moved into the micro log-price units of " +
        "__la/__lb; the round quantizes the residual, not alpha"),
    ("perf/Performance.scala", "math.round(Micro.factor / v)") ->
      ("the inverse-vol weight, a plain Scala Long, quantizes 10⁶/v; Micro.of(1.0 / v) " +
        "rounds a different double"))

  private val Scale =
    """(?:1e4|1e6|1e9|1e12|10000L|1000000L|1000000000L|1000000000000L|(?:Basis|Micro|Nano|Pico)\.(?:factor|unit))"""
  /** a policy scale as a factor (`· s`, `s ·`) or a dividend (`s / d`) */
  private val Quantize = ("""\*\s*(?:lit\()?""" + Scale + """(?![\w.])|(?<![\w.])""" +
    Scale + """\)?\s*[*/]""").r
  private val Accumulator = """DecimalType\(38,\s*0\)|decimal\(38,\s*0\)""".r

  /** `path:line: what` for every site that writes the policy by hand. */
  def offenders(root: Path): List[String] = {
    require(Files.isDirectory(root), s"run from the repo root: $root")
    Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !Skipped(p.getFileName.toString))
      .toList.sortBy(_.toString)
      .flatMap { p =>
        val rel = root.relativize(p).toString
        val (code, bare) = strip(new String(Files.readAllBytes(p), "UTF-8"))
        def line(at: Int) = code.substring(0, at).count(_ == '\n') + 1
        val decl = Accumulator.findAllMatchIn(code).map(m =>
          s"$p:${line(m.start)}: names the accumulator type; use Exact.Dec")
        val quant = """(?<!\w)round\(""".r.findAllMatchIn(bare).flatMap { m =>
          val open = m.end - 1
          var depth = 0; var i = open; var comma = -1
          while ({ bare(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 1 => comma = i
            case _ =>
          }; depth > 0 }) i += 1
          // round(x, d) with d > 0 is output rounding, not quantizing
          val quantizing = comma < 0 || bare.substring(comma + 1, i).trim == "0"
          val body = bare.substring(open + 1, if (comma < 0) i else comma)
          val call = code.substring(bare.lastIndexWhere(c => !(c.isLetter || c == '.'), m.start) + 1, i + 1)
          if (quantizing && Quantize.findFirstIn(body).isDefined &&
            !Allowed.contains((rel, call)))
            Some(s"$p:${line(m.start)}: quantizes inside round(; use an Exact scale")
          else None
        }
        decl ++ quant
      }
  }

  /** (source without comments, the same with string bodies blanked);
    * both keep every newline, so offsets map to the same lines. */
  private def strip(src: String): (String, String) = {
    val code = new StringBuilder; val bare = new StringBuilder
    def blank(s: String) = s.map(c => if (c == '\n') '\n' else ' ')
    var i = 0
    while (i < src.length) {
      if (src.startsWith("/*", i)) {
        val j = { val k = src.indexOf("*/", i + 2); if (k < 0) src.length else k + 2 }
        code ++= blank(src.substring(i, j)); bare ++= blank(src.substring(i, j)); i = j
      } else if (src.startsWith("//", i)) {
        val j = { val k = src.indexOf('\n', i); if (k < 0) src.length else k }
        code ++= blank(src.substring(i, j)); bare ++= blank(src.substring(i, j)); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val j = src.indexOf("\"\"\"", i + 3) + 3
        code ++= src.substring(i, j); bare ++= blank(src.substring(i, j)); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        j += 1
        code ++= src.substring(i, j); bare ++= blank(src.substring(i, j)); i = j
      } else if (src(i) == '\'' && i + 2 < src.length &&
        (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val j = src.indexOf('\'', i + 2) + 1
        code ++= src.substring(i, j); bare ++= blank(src.substring(i, j)); i = j
      } else {
        code += src(i); bare += src(i); i += 1
      }
    }
    (code.toString, bare.toString)
  }
}
