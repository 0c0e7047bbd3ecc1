package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.Indexer

/** Index-build parity with a naive in-memory model + the reference's
  * semantics notes (SURVEY.md §7.0, FIXTURES.md §2).
  */
class IndexerSpec extends SparkTestBase {
  import spark.implicits._

  // FIXTURES.md inline corpus
  private val corpus = Seq(
    (1L, "Well Prince so Genoa and Lucca are now"),
    (2L, "To be, or not to be -- that is the question:"),
    (3L, "ABATE to shorten; to CAST down"),
    (4L, ""),
    (5L, "!!! ... 123 -- ,,,")
  )

  private def naive(docs: Seq[(Long, String)]): Map[(String, Long), Long] =
    docs.flatMap { case (id, text) =>
      text.toLowerCase.split(" ").map(_.replaceAll("[^a-z]", ""))
        .filter(_.nonEmpty).map(t => (t, id))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("postings over fixture == naive in-memory count; empty tokens dropped") {
    val df = corpus.toDF("doc_id", "text")
      .select($"doc_id", explodedTokens($"text").as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === naive(corpus))
    // punctuation-only / empty docs contribute nothing (deliberate fix of
    // the reference quirk, helper_map.c:166)
    assert(!got.keys.exists(_._2 == 4L))
    assert(!got.keys.exists(_._2 == 5L))
    assert(!got.keys.exists(_._1 == ""))
    // normalization: "be," and "be" merge; "To"/"to" lowercase
    assert(got(("be", 2L)) == 2L)
    assert(got(("to", 2L)) == 2L)
  }

  test("doc name derivation matches worker.c:285-302 semantics") {
    val paths = Seq("Tolstoy/war_and_peace.txt", "shakespeare/tragedies/hamlet",
      "Hugo/Miserables.txt", "a/b/c.d.e")
    val got = paths.toDF("p").select(docName($"p")).as[String].collect()
    assert(got === Array("war_and_peace", "hamlet", "Miserables", "c"))
  }

  test("sum of tf over index == total token count (sf0.001)") {
    val totalTf = Indexer.postings(spark, sf).agg(sum("tf")).as[Long].head()
    val totalTokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(numTokens($"text").cast("long").as("n")).agg(sum("n")).as[Long].head()
    assert(totalTf === totalTokens)
  }

  test("multiTermAnd returns only docs containing every term") {
    val docsWithBoth = Indexer.multiTermAnd(spark, sf, Seq("scan", "join"))
      .select("doc_id").as[Long].collect().toSet
    val p = Indexer.postings(spark, sf)
    val scan = p.filter($"term" === "scan").select("doc_id").as[Long].collect().toSet
    val join = p.filter($"term" === "join").select("doc_id").as[Long].collect().toSet
    assert(docsWithBoth === (scan intersect join))
  }

  test("materialized index prunes to one letter partition on term lookup") {
    val out = java.nio.file.Files.createTempDirectory("graft_index_prune").toString
    Indexer.writeIndex(spark, sf, out)
    val q = spark.read.parquet(out).filter($"first_letter" === "t" && $"term" === "the")
    val plan = q.queryExecution.executedPlan.toString
    // partition pruning must reach the scan — the ./index/<c> analogue
    assert(plan.contains("PartitionFilters") &&
      plan.contains("first_letter"), s"no partition pruning in plan:\n$plan")
    assert(q.count() > 0)
    // only the t= directory should be listed by the pruned query
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.contains("first_letter=t"))
  }

  test("index write stage is not capped at one task per letter") {
    // the r2 design shuffled on first_letter alone — a 26-value key that
    // funnels the widest stage of the build into ≤26 skewed tasks. The
    // composite (first_letter, hash(term) % F) key must spread each letter
    // over up to F writer tasks. Distinct part-file ids across the letter
    // dirs == distinct writer tasks that produced output; AQE is disabled
    // because it legitimately coalesces tiny test shuffles.
    val out = java.nio.file.Files.createTempDirectory("graft_index_fan").toString
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      Indexer.writeIndex(spark, sf, out)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    }
    val partId = "part-(\\d+)-".r
    val letterDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    val filesPerLetter = letterDirs.map { d =>
      d.getName -> d.listFiles().map(_.getName)
        .flatMap(n => partId.findFirstMatchIn(n).map(_.group(1)))
    }.toMap
    val distinctTasks = filesPerLetter.values.flatten.toSet
    assert(distinctTasks.size > 26,
      s"write stage produced only ${distinctTasks.size} writer tasks")
    // per-letter parallelism: a frequent letter is written by several tasks
    assert(filesPerLetter("first_letter=t").distinct.length > 1,
      "letter 't' written by a single task — still funneled")
  }

  test("index write partitions by first letter and round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft_index").toString
    Indexer.writeIndex(spark, sf, out)
    val back = spark.read.parquet(out)
    assert(back.columns.toSet === Set("first_letter", "term", "doc_id", "tf"))
    // letter dirs exist (partition pruning layout, like ./index/<c>)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("first_letter=")))
    assert(back.count() === Indexer.postings(spark, sf).count())
  }

  test("every index file holds its postings sorted by (term, doc_id)") {
    // the row-group skips a served scan relies on need the term order;
    // the partitioned writer drops a sort that does not lead with
    // first_letter, so this pins what the files actually hold
    val out = java.nio.file.Files.createTempDirectory("graft_index_sorted").toString
    Indexer.writeIndex(spark, sf, out)
    val files = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { f =>
      val rows = spark.read.schema("term STRING, doc_id BIGINT").parquet(f.getPath)
        .as[(String, Long)].collect().toSeq
      assert(rows === rows.sorted, s"${f.getName} is not sorted by (term, doc_id)")
    }
    graft.util.Scratch.deleteRecursively(out)
  }
}
