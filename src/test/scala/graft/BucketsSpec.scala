package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.dedup.Dedup

/** The bucket-cap policy in [[Buckets]]: the id-only pair predicate of
  * the incremental probes, and the ban on per-site copies of the cap.
  * Each site's behaviour over its cap is pinned by `OversizedGroupSpec`. */
class BucketsSpec extends SparkSpec {
  import spark.implicits._

  test("a doc both indexed and in the batch never pairs with itself") {
    val ix = Files.createTempDirectory("graft_buckets").resolve("ix").toString
    val text = "the quick brown fox jumps over the lazy dog again"
    Dedup.writeSimhashIndex(ix, Seq((1L, text)).toDF("doc_id", "text"))
    val batch = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val pairs = Dedup.incrementalSimhashPairs(spark, ix, batch)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("no src/main graft file outside Buckets.scala writes an overflow " +
    "metric or the cap's error text outside a comment") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).toString == "Buckets.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if (line.contains("rows_in_overflow") ||
                line.contains("rows exceeds max")) && {
                val t = line.trim
                !t.startsWith("*") && !t.startsWith("//")
              } => s"$p:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
