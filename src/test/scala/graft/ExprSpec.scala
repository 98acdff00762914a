package graft

import graft.fns.Fns
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native DotProductF is bit-identical to the HOF fold") {
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(200)((
      Array.fill(64)(rnd.nextGaussian().toFloat),
      Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val diff = df.select((Fns.dot(col("a"), col("b")) - hof).as("d"))
      .agg(max(abs(col("d")))).as[Double].head()
    assert(diff == 0.0) // identical accumulation order -> identical bits
  }

  test("null inputs yield null (nullIntolerant)") {
    val df = Seq((Some(Array(1.0f)), None: Option[Array[Float]])).toDF("a", "b")
    assert(df.select(Fns.dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("graft_dot is SQL-callable after registration") {
    graft.ext.GraftExtensions.register(spark)
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("v")
    try {
      val got = spark.sql("SELECT graft_dot(a, b) FROM v").as[Double].head()
      assert(got == 11.0)
    } finally spark.sql("DROP VIEW IF EXISTS v")
  }

  // Random corpora for the text-stats natives: short docs, a heavy-repeat
  // doc, 0/1-token degenerates, and token vocab small enough to force
  // bigram collisions.
  private def randomDocs(seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq("", "one") ++ Seq.fill(200) {
      val n = 1 + rnd.nextInt(40)
      Seq.fill(n)(s"w${rnd.nextInt(8)}").mkString(" ")
    }
  }

  test("native BpeTokenCount matches size(regexp_extract_all(BpePattern))") {
    // Tricky corpus: empty, spaces-only, leading/trailing/double spaces,
    // newline/tab (a negated class DOES match them), uppercase (falls
    // back per char), zh vocab chars, a surrogate pair (one code point,
    // one count), overlapping vocab prefixes (greedy longest must win),
    // plus random lowercase soup.
    val rnd = new scala.util.Random(23)
    val alphabet = "abcdefghijklmnopqrstuvwxyz .X的是"
    val docs = Seq("", " ", "   ", "one", " the a ", "counter", "counters",
      "countershould", "a\nb\tc", "THE The the", "的是了在我有和不",
      "ab😀cd", "interaction", "transformation station",
      "understanding  superuser") ++
      Seq.fill(300)(Seq.fill(1 + rnd.nextInt(60))(
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val regex = size(regexp_extract_all(col("text"),
      lit(graft.text.TextAnalysis.BpePattern), lit(0))).cast("long")
    val native = graft.text.TextAnalysis.bpeTokenCountCol(col("text"))
    val bad = df.select(col("doc_id"), col("text"), regex.as("r"),
        native.as("n"))
      .filter(col("r") =!= col("n")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString("; ")}")
    // NULL text propagates NULL, matching the regex form
    val nulls = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(native.as("n")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("native AlphaTokenCount matches the anchored-regex word count") {
    // Tricky corpus: empty, spaces-only, leading/trailing/double spaces
    // (empty split tokens hold no letter), digits/symbols-only tokens,
    // unicode (multi-byte never matches [a-zA-Z]), mixed tokens, plus
    // random soup over letters/digits/punct/space.
    val rnd = new scala.util.Random(41)
    val alphabet = "abcXYZ019.#… 的是\t"
    val docs = Seq("", " ", "   ", "one", " the 99 ", "#, 12 a9",
      "的是 的a是 ...", "a  b   c9", "  x", "y  ", "\n\t", "9 8 7") ++
      Seq.fill(300)(Seq.fill(1 + rnd.nextInt(60))(
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val regex = size(regexp_extract_all(concat(lit(" "), col("text")),
      lit(" [^ ]*[a-zA-Z][^ ]*"), lit(0))).cast("long")
    val native = graft.expr.TextStatsExpressions
      .alphaTokenCount(split(col("text"), " "))
    val bad = df.select(col("doc_id"), col("text"), regex.as("r"),
        native.as("n"))
      .filter(col("r") =!= col("n")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString("; ")}")
    val nulls = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(native.as("n")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("native RepStats matches the explode + double group-by formulation") {
    val df = randomDocs(17).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val t = split(col("text"), " ")
    val rs = graft.expr.TextStatsExpressions.repStats(t)
    val native = df.select(col("doc_id"),
        rs.getField("n_distinct").as("nd"), rs.getField("max_bigram").as("mb"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bigrams = transform(
      sequence(lit(1), greatest(size(t) - 1, lit(1))),
      i => array_join(slice(t, i, lit(2)), " "))
    val hof = df.select(col("doc_id"),
        size(array_distinct(t)).cast("long").as("nd"), explode(bigrams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"), first("nd").as("nd"))
      .groupBy("doc_id").agg(first("nd").as("nd"), max("c").as("mb"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(native.toSeq == hof.toSeq)
  }

  test("native CountInSet matches the filter-HOF count") {
    val df = randomDocs(23).toDF("text")
    val t = split(col("text"), " ")
    val words = Seq("w0", "w3")
    val native = graft.expr.TextStatsExpressions.countInSet(t, words)
    val hof = size(filter(t, x => x.isInCollection(words))).cast("long")
    val diffs = df.filter(native =!= hof).count()
    assert(diffs == 0L)
  }

  test("native NGrams matches array_distinct(transform(...)) incl. order") {
    val df = randomDocs(31).toDF("text")
    for (n <- Seq(2, 3, 5)) {
      val t = split(col("text"), " ")
      val native = graft.expr.TextStatsExpressions.ngrams(t, n)
      val hof = array_distinct(transform(
        sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
        i => array_join(slice(t, i, lit(n)), " ")))
      // element-wise equality INCLUDING order (PPJoin indexes positions)
      val diffs = df.filter(not(native <=> hof)).count()
      assert(diffs == 0L, s"n=$n")
    }
  }

  test("native RollingHash31 matches the per-character aggregate fold") {
    val docs = randomDocs(41) ++ Seq(
      "", "的是了 在我有", "é mixé", "emoji 😀 tail", "the a the a")
    val df = docs.toDF("text")
    val hof = aggregate(split(col("text"), ""), lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)
    val native = graft.expr.TextStatsExpressions.rollingHash(col("text"))
    assert(df.filter(native =!= hof).count() == 0L)
    // null in, null out
    assert(Seq(Option.empty[String]).toDF("text")
      .select(native).head().isNullAt(0))
  }

  test("native HashedTfDot matches the transform+element_at fold") {
    import graft.expr.TextStatsExpressions
    val w = (0 until 64).map(i => ((i * 37 + 11) % 101 - 50) / 100.0)
    val df = randomDocs(53).toDF("text")
    val t = split(col("text"), " ")
    val native = TextStatsExpressions.hashedTfDot(t, w)
    val hof = aggregate(
      transform(t, tok => element_at(typedlit(w),
        (pmod(TextStatsExpressions.rollingHash(tok), lit(64L)) + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    assert(df.filter(native =!= hof).count() == 0L)
  }

  test("native SortedIntersectCount equals size(array_intersect) on sorted distinct arrays") {
    val rnd = new scala.util.Random(23)
    def sortedDistinct(n: Int): Array[Long] =
      Array.fill(n)(rnd.nextLong() % 1000).distinct.sorted
    val rows = Seq.fill(300)((sortedDistinct(rnd.nextInt(40)),
      sortedDistinct(rnd.nextInt(40)))) ++ Seq(
      (Array.empty[Long], Array(1L, 2L)),      // one side empty
      (Array.empty[Long], Array.empty[Long]),  // both empty
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),  // identical
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),  // interleaved disjoint
      (Array(Long.MinValue, 0L, Long.MaxValue), // extremes
        Array(Long.MinValue, Long.MaxValue)))
    val df = rows.toDF("a", "b")
    val native = graft.expr.SetExpressions.sortedIntersectCount(col("a"), col("b"))
    val mismatches = df
      .select(native.as("n"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("e"))
      .filter(col("n") =!= col("e")).count()
    assert(mismatches == 0)
    // null propagation (nullIntolerant)
    val nulls = Seq((Some(Array(1L)), None: Option[Array[Long]])).toDF("a", "b")
    assert(nulls.select(
      graft.expr.SetExpressions.sortedIntersectCount(col("a"), col("b")))
      .head().isNullAt(0))
  }

  test("native CoverageKeptIndices equals the HOF exists form on random inputs") {
    val rnd = new scala.util.Random(41)
    for (window <- Seq(1, 3, 8)) {
      val rows = Seq.fill(300) {
        val n = rnd.nextInt(60)
        val f = if (n == 0) 0 else rnd.nextInt(n + 1)
        (Array.fill(f)(rnd.nextInt(n.max(1)) + 1).distinct.sorted, n)
      } ++ Seq(
        (Array.empty[Int], 0),            // empty doc
        (Array.empty[Int], 5),            // no flagged starts
        (Array(1), 1),                    // single fully-covered token
        (Array(1, 2, 3, 4, 5), 5))        // everything flagged
      val df = rows.toDF("fs", "n")
      val native = graft.expr.SetExpressions
        .coverageKeptIndices(col("fs"), col("n"), window)
      // n=0 guard is test-only: sequence(1, 0) steps DOWN to [1, 0] in
      // Spark, and production __n = size(split(...)) is always >= 1
      val hof = filter(
        when(col("n") >= 1, sequence(lit(1), col("n")))
          .otherwise(array().cast("array<int>")),
        t => !exists(col("fs"), s => s <= t && t < s + window))
      val mismatches = df.select(native.as("a"), hof.as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(mismatches == 0, s"window=$window")
    }
    // null propagation (nullIntolerant)
    val nulls = Seq((None: Option[Array[Int]], 3)).toDF("fs", "n")
    assert(nulls.select(graft.expr.SetExpressions
      .coverageKeptIndices(col("fs"), col("n"), 8)).head().isNullAt(0))
  }

  test("interpreted set natives refuse unsorted or duplicated input") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
    import graft.expr.{CoverageKeptIndices, SortedIntersectCount}
    def longs(xs: Long*) = Literal.create(xs, ArrayType(LongType, false))
    def ints(xs: Int*) = Literal.create(xs, ArrayType(IntegerType, false))
    assert(SortedIntersectCount(longs(1L, 2L, 5L), longs(2L, 5L)).eval() == 2L)
    intercept[IllegalArgumentException](
      SortedIntersectCount(longs(3L, 1L), longs(1L, 2L)).eval())
    intercept[IllegalArgumentException](
      SortedIntersectCount(longs(1L, 2L), longs(2L, 2L)).eval())
    def kept(starts: Literal, n: Int) = CoverageKeptIndices(starts,
      Literal(n), 2).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq
    assert(kept(ints(2, 2), 4) == Seq(1, 4)) // repeated starts are sorted
    intercept[IllegalArgumentException](kept(ints(4, 2), 5))
  }

  test("graft_table_ids is SQL-callable, default and explicit sentinel") {
    graft.ext.GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT graft_table_ids('[7, 999999, 12]')").as[Seq[Long]].head()
    assert(got == Seq(7L, 12L))
    val custom = spark.sql(
      "SELECT graft_table_ids('[7, 999999, 12]', 12L)").as[Seq[Long]].head()
    assert(custom == Seq(7L, 999999L))
  }
}
