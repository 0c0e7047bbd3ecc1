package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("wordShingles: fewer tokens than n gives empty array, not garbage") {
    val got = Seq("one two", "one two three", "one two three four", "")
      .toDF("text").select(wordShingles($"text", 3).as("sh"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq.empty)
    assert(got(1) === Seq("one two three"))
    assert(got(2) === Seq("one two three", "two three four"))
    assert(got(3) === Seq.empty)
  }

  test("shinglesOfTokens: inline and pre-projected tokens give identical shingles") {
    // the inline form is what wordShingles builds; the pre-projected form
    // is what Dedup passes. Both must equal a driver-side sliding window,
    // including texts with fewer than n tokens and empty text.
    val rnd = new scala.util.Random(7)
    val texts = Seq("", "one", "one two", "one two three", "!!! ...") ++
      (0 until 30).map(_ => Vector.fill(rnd.nextInt(60))(
        Vector.fill(1 + rnd.nextInt(4))(('a' + rnd.nextInt(3)).toChar).mkString)
        .mkString(" "))
    val df = texts.toDF("text")
    val toks = df.select(tokens(col("text"))).as[Seq[String]].collect().toSeq
    for (n <- Seq(1, 2, 3, 5)) {
      val inline = df.select(shinglesOfTokens(tokens(col("text")), n))
        .as[Seq[String]].collect().toSeq
      val projected = df.select(tokens(col("text")).as("ts"))
        .select(shinglesOfTokens(col("ts"), n))
        .as[Seq[String]].collect().toSeq
      val reference = toks.map(ts =>
        if (ts.size < n) Seq.empty[String]
        else ts.sliding(n).map(_.mkString(" ")).toSeq)
      assert(inline === projected, s"n=$n")
      assert(projected === reference, s"n=$n")
    }
  }

  test("property: token multiset is invariant under document splitting") {
    // mirrors the word-boundary-split correctness argument of
    // worker.c:210-220: splitting a corpus at any word boundary must not
    // change global token counts. Seeded random docs, all checked in two
    // Spark jobs.
    val rnd = new scala.util.Random(42)
    val cases = (0 until 20).map { i =>
      val words = Vector.fill(rnd.nextInt(30))(
        Vector.fill(1 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
          + (if (rnd.nextBoolean()) "!?," else ""))
      val cut = if (words.isEmpty) 0 else rnd.nextInt(words.length + 1)
      (i.toLong, words.mkString(" "), cut)
    }
    val whole = cases.map { case (i, doc, _) => (i, doc) }
      .toDF("case_id", "text")
      .select($"case_id", explodedTokens($"text").as("t"))
      .groupBy("case_id", "t").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val halves = cases.flatMap { case (i, doc, cut) =>
      val ws = doc.split(" ")
      val (a, b) = ws.splitAt(cut)
      Seq((i, a.mkString(" ")), (i, b.mkString(" ")))
    }.toDF("case_id", "text")
      .select($"case_id", explodedTokens($"text").as("t"))
      .groupBy("case_id", "t").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(whole === halves)
  }
}
