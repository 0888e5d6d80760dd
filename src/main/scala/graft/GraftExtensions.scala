package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL functions, so `spark.sql` users (and BI
  * tools speaking SQL to a Thrift/Connect endpoint) get the codegen'd
  * kernels without touching the Scala API:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions") // fresh JVM
  *   .withExtensions(new GraftExtensions())  // or programmatic — works
  *   ...                                     //   on a reused context too
  * spark.sql("SELECT graft_simhash(text, 64), graft_dot(a, b) FROM t")
  * }}}
  *
  * Registration is the injection-rule path (`injectFunction`), not a
  * runtime registry mutation — the supported mechanism for a library
  * shipping Catalyst extensions, applied to every session built with
  * the config (including Spark Connect server-side). Integer
  * parameters (simhash bits, shingle/band sizes) arrive as literal
  * arguments and are required FOLDABLE at resolution time — the
  * expressions take them as constructor ints, which is what makes
  * their codegen specialize per call site. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String, fn: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new ParameterError(
      s"$fn: $name must be an INT literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) = {
      val _ = usage // kept for the scaladoc-style call sites
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name)
    }

    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - codegen'd float-array dot product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b) takes 2 arguments")
        DotProduct(args(0), args(1))
      }))

    ext.injectFunction((FunctionIdentifier("graft_sqdist"),
      info("graft_sqdist", "graft_sqdist(a, b) - codegen'd squared L2 distance"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_sqdist(a, b) takes 2 arguments")
        SquaredDistance(args(0), args(1))
      }))

    ext.injectFunction((FunctionIdentifier("graft_sorted_intersect"),
      info("graft_sorted_intersect",
        "graft_sorted_intersect(a, b) - |A∩B| of two ascending-sorted " +
          "bigint arrays via one codegen'd merge scan"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_sorted_intersect(a, b) takes 2 arguments")
        SortedIntersectCount(args(0), args(1))
      }))

    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash",
        "graft_simhash(text, bits) - one-pass word-level simhash fingerprint"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_simhash(text, bits) takes 2 arguments")
        SimHash(args(0), intArg(args(1), "bits", "graft_simhash"))
      }))

    ext.injectFunction((FunctionIdentifier("graft_blocked_keys"),
      info("graft_blocked_keys",
        "graft_blocked_keys(fp, bits, blocks, maxHamming) - the Manku " +
          "block-permutation table keys of a bigint fingerprint"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "graft_blocked_keys(fp, bits, blocks, maxHamming) takes 4 arguments")
        BlockedKeys(args(0),
          intArg(args(1), "bits", "graft_blocked_keys"),
          intArg(args(2), "blocks", "graft_blocked_keys"),
          intArg(args(3), "maxHamming", "graft_blocked_keys"))
      }))

    ext.injectFunction((FunctionIdentifier("graft_shingles"),
      info("graft_shingles",
        "graft_shingles(text, n) - normalized word n-gram shingle array"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles(text, n) takes 2 arguments")
        ShingleArray(args(0), intArg(args(1), "n", "graft_shingles"))
      }))

    ext.injectFunction((FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(text) - Unicode NFC normalization"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfc(text) takes 1 argument")
        NfcNormalize(args(0))
      }))

    ext.injectFunction((FunctionIdentifier("graft_md5_prefix60"),
      info("graft_md5_prefix60",
        "graft_md5_prefix60(text) - first 60 bits of md5 as a bigint " +
          "(the KMV unit hash, no hex round-trip)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_md5_prefix60(text) takes 1 argument")
        Md5Prefix60(args(0))
      }))

    ext.injectFunction((FunctionIdentifier("graft_gopher"),
      info("graft_gopher",
        "graft_gopher(text) - one-pass Gopher quality signal struct"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_gopher(text) takes 1 argument")
        GopherSignals(args(0))
      }))

    ext.injectFunction((FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler similarity " +
          "(DuckDB/rapidfuzz conventions)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_jaro_winkler(a, b) takes 2 arguments")
        graft.functions.JaroWinklerSimilarity(args(0), args(1))
      }))

    ext.injectFunction((FunctionIdentifier("graft_winnow"),
      info("graft_winnow",
        "graft_winnow(text, k, w) - distinct winnowed fingerprints " +
          "(MOSS): k-gram Horner hashes' sliding w-window minima"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_winnow(text, k, w) takes 3 arguments")
        WinnowFingerprints(args(0),
          intArg(args(1), "k", "graft_winnow"),
          intArg(args(2), "w", "graft_winnow"))
      }))
  }
}
