package graft

import graft.dedup.Dedup
import graft.ops.{DriverSolve, PageRank, Triangles}
import graft.sim.Similarity
import graft.text.{BpeTrain, DomainMixture}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** The driver-solve guard and its callers. Every public entry that may
  * solve on the driver must equal its distributed twin bit for bit —
  * same rows, or the same root exception class — on generated degenerate
  * input: empty frames, NULL endpoints and weights, self-loops,
  * duplicate edges, Long/Int/String/mixed node types, NULL and
  * non-finite embeddings. The guard itself is pinned on its bound,
  * its bad-value count and its release.
  */
class DriverSolveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ------------------------------------------------- shared generator --

  /** Node column types: mixed is an Int src with a String dst. */
  private val nodeKinds = Seq("long", "int", "string", "mixed")
  // shapes a driver path must compute, and shapes its guard must decline
  private val graphLocal = Seq("selfLoop", "duplicate")
  private val graphGuard = Seq("empty", "nullEndpoint", "nullWeight")
  private val vecLocal = Seq("ragged")
  private val vecGuard = Seq("empty", "nullVector", "nullElement", "nan", "inf")

  private case class GraphCase(kind: String, flags: Set[String],
                               edges: Seq[(Option[Int], Option[Int], Option[Long])])

  private case class VecCase(flags: Set[String],
                             vecs: Seq[(Long, Option[Seq[Option[Float]]])])

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
      .getOrElse(sys.error(s"generator failed at seed $seed"))

  private def someFlags(all: Seq[String]): Gen[Set[String]] =
    Gen.sequence[Seq[Boolean], Boolean](all.map(_ => Gen.prob(0.35)))
      .map(bs => all.zip(bs).collect { case (f, true) => f }.toSet)

  /** Edges over a 6-node pool (so small graphs carry real structure),
    * with the degenerate shapes `flags` asks for spliced in. */
  private def graphGen(kind: String,
                       flagGen: Gen[Set[String]]): Gen[GraphCase] = for {
    flags <- flagGen
    n <- Gen.chooseNum(3, 14)
    ends <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 5),
      Gen.chooseNum(1L, 9L)))
  } yield {
    val base = ends.map { case (a, b, w) => (Option(a), Option(b), Option(w)) }
    val edges =
      if (flags("empty")) Seq.empty
      else base ++
        (if (flags("selfLoop")) Seq((Some(2), Some(2), Some(3L))) else Nil) ++
        (if (flags("duplicate")) base.take(2) else Nil) ++
        (if (flags("nullEndpoint")) Seq((None, Some(1), Some(2L)),
          (Some(3), None, Some(1L))) else Nil) ++
        (if (flags("nullWeight")) Seq((Some(4), Some(0), None)) else Nil)
    GraphCase(kind, flags, edges)
  }

  /** Three 4-dim clusters; vec_id 0 is always present unless empty. */
  private def vecGen(flagGen: Gen[Set[String]]): Gen[VecCase] = for {
    flags <- flagGen
    n <- Gen.chooseNum(8, 30)
    noise <- Gen.listOfN(n * 4, Gen.chooseNum(-50, 50))
  } yield {
    val centers = Seq(Seq(1f, 0f, 0f, 1f), Seq(0f, 1f, 1f, 0f), Seq(1f, 1f, 0f, 0f))
    val vecs = (0 until n).map { i =>
      val v = centers(i % 3).zipWithIndex.map { case (c, d) =>
        Option(c + noise(i * 4 + d) / 1000f)
      }
      (i.toLong, Option(v))
    }
    def patch(i: Int, f: Seq[Option[Float]] => Option[Seq[Option[Float]]]) =
      (v: (Long, Option[Seq[Option[Float]]])) =>
        if (v._1 == i) (v._1, v._2.flatMap(f)) else v
    val patched = Seq[(String, ((Long, Option[Seq[Option[Float]]])) =>
        (Long, Option[Seq[Option[Float]]]))](
      "nullVector" -> patch(5, _ => None),
      "nullElement" -> patch(6, v => Some(v.updated(1, None))),
      "nan" -> patch(7, v => Some(v.updated(2, Some(Float.NaN)))),
      "inf" -> patch(3, v => Some(v.updated(0, Some(Float.NegativeInfinity)))),
      "ragged" -> patch(4, v => Some(v :+ Some(0.5f)))
    ).filter(p => flags(p._1)).map(_._2)
      .foldLeft(vecs)((vs, f) => vs.map(f))
    VecCase(flags, if (flags("empty")) Seq.empty else patched)
  }

  private def nodeType(kind: String, end: Int): DataType = kind match {
    case "long" => LongType
    case "int" => IntegerType
    case "string" => StringType
    case "mixed" => if (end == 0) IntegerType else StringType
  }

  private def node(t: DataType, v: Option[Int]): Any = v.map { x =>
    t match {
      case LongType => x.toLong
      case IntegerType => x
      case _ => s"n$x"
    }
  }.orNull

  /** (`a`, `b`, `w`) with the case's node types. */
  private def graphFrame(g: GraphCase, a: String, b: String,
                         w: String): DataFrame = {
    val (ta, tb) = (nodeType(g.kind, 0), nodeType(g.kind, 1))
    val rows = g.edges.map { case (x, y, c) =>
      Row(node(ta, x), node(tb, y), c.map(Long.box).orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField(a, ta), StructField(b, tb), StructField(w, LongType))))
  }

  private def vecFrame(v: VecCase): DataFrame = {
    val rows = v.vecs.map { case (id, e) =>
      Row(id, e.map(_.map(_.map(Float.box).orNull)).orNull, (id % 3).toInt)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))))
  }

  // Long ids take every driver path, so each shape gets a Long case of
  // its own: a driver-path shape joined only by other driver-path
  // shapes (so the driver really computes it), a guard shape by any.
  // The other node types exercise the type guards. Fixed seeds keep the
  // cases reproducible.
  private def shaped(local: Seq[String], guard: Seq[String]): Seq[Gen[Set[String]]] =
    Gen.const(Set.empty[String]) +:
      (local.map(f => someFlags(local).map(_ + f)) ++
        guard.map(f => someFlags(local ++ guard).map(_ + f)))

  private val graphCases: Seq[GraphCase] =
    (shaped(graphLocal, graphGuard).map("long" -> _) ++ Seq(
      "int" -> someFlags(graphLocal ++ graphGuard),
      "string" -> someFlags(graphLocal),
      "mixed" -> someFlags(graphLocal ++ graphGuard)))
      .zipWithIndex.map { case ((kind, flags), i) =>
        sample(graphGen(kind, flags), 1000L + i)
      }
  private val vecCases: Seq[VecCase] =
    shaped(vecLocal, vecGuard).zipWithIndex.map { case (flags, i) =>
      sample(vecGen(flags), 2000L + i)
    }

  // -------------------------------------------------------- equality --

  /** Bit-exact canonical form: doubles and floats by their bits, arrays
    * and rows element-wise. */
  private def canon(x: Any): Any = x match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case a: Array[_] => a.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case r: Row => r.toSeq.map(canon)
    case (a, b) => (canon(a), canon(b))
    case other => other
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(r => canon(r).toString).toSeq.sorted

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  private def sameOutcome[A](what: String, public: => A, twin: => A,
                             norm: A => Any): Unit = {
    val p = Try(norm(public))
    val t = Try(norm(twin))
    (p.toEither, t.toEither) match {
      case (Right(a), Right(b)) => assert(a == b, what)
      // Spark may wrap the same task failure in a SparkException
      case (Left(a), Left(b)) =>
        assert(rootCause(a).getClass == rootCause(b).getClass, what)
      case _ => fail(s"$what: public $p vs distributed $t")
    }
  }

  test("generated cases cover every degenerate shape") {
    nodeKinds.foreach(k => assert(graphCases.exists(_.kind == k), k))
    val long = graphCases.filter(_.kind == "long")
    graphGuard.foreach(f => assert(long.exists(_.flags(f)), f))
    graphLocal.foreach(f => assert(long.exists(g =>
      g.flags(f) && g.flags.forall(graphLocal.contains)), f))
    vecGuard.foreach(f => assert(vecCases.exists(_.flags(f)), f))
    vecLocal.foreach(f => assert(vecCases.exists(v =>
      v.flags(f) && v.flags.forall(vecLocal.contains)), f))
  }

  // ------------------------------------------------------- properties --

  test("components ≡ componentsDistributed on generated graphs") {
    graphCases.foreach { g =>
      val df = graphFrame(g, "doc_a", "doc_b", "w").select("doc_a", "doc_b")
      sameOutcome(s"$g", Dedup.components(df),
        Dedup.componentsDistributed(df), rowsOf)
    }
  }

  test("PageRank.ranks ≡ ranksDistributed on generated graphs") {
    graphCases.foreach { g =>
      val df = graphFrame(g, "src", "dst", "w")
      sameOutcome(s"$g", PageRank.ranks(df, 2),
        PageRank.ranksDistributed(df, 2), rowsOf)
    }
  }

  test("mixed endpoint types fail at the call, before any Spark job") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("mixed-endpoints", "mixed endpoint types")
      val mixed = graphCases.filter(_.kind == "mixed")
      assert(mixed.nonEmpty)
      mixed.foreach { g =>
        val cc = graphFrame(g, "doc_a", "doc_b", "w").select("doc_a", "doc_b")
        val pr = graphFrame(g, "src", "dst", "w")
        Seq[(String, () => DataFrame)](
          "components" -> (() => Dedup.components(cc)),
          "componentsDistributed" -> (() => Dedup.componentsDistributed(cc)),
          "ranks" -> (() => PageRank.ranks(pr, 2)),
          "ranksDistributed" -> (() => PageRank.ranksDistributed(pr, 2))
        ).foreach { case (what, call) =>
          val m = intercept[IllegalArgumentException](call()).getMessage
          assert(m.contains("endpoint types differ"), s"$what: $m")
        }
      }
      // one listener queue delivers in order: once this job is seen, any
      // job the calls above started has been seen too
      sc.setJobGroup("mixed-endpoints-flush", "listener flush")
      spark.range(1).count()
      val deadline = System.nanoTime() + 60000000000L
      while (!groups.contains("mixed-endpoints-flush") &&
             System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("mixed-endpoints-flush"))
      assert(!groups.contains("mixed-endpoints"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("Triangles.countWithCoefficient ≡ countDistributed on generated graphs") {
    graphCases.foreach { g =>
      val df = graphFrame(g, "a", "b", "w").select("a", "b")
      sameOutcome(s"$g", Triangles.countWithCoefficient(df),
        Triangles.countDistributed(df), rowsOf)
    }
  }

  test("DomainMixture.solve ≡ solveDistributed on generated corpora") {
    // domains are the graph's src nodes, losses its weights: NULL
    // domains and losses, one-domain and empty corpora all occur
    graphCases.foreach { g =>
      val docs = graphFrame(g, "domain", "other", "loss")
      sameOutcome(s"$g",
        DomainMixture.solve(docs, col("domain"), col("loss"), k = 2),
        DomainMixture.solveDistributed(docs, col("domain"), col("loss"), k = 2),
        rowsOf)
    }
  }

  test("BpeTrain.trainMerges / compressionCurve ≡ their distributed twins") {
    // a vocab row per edge: word from the endpoints, syms its letters,
    // cnt the weight (NULL endpoints make NULL words and syms)
    graphCases.foreach { g =>
      val words = graphFrame(g, "a", "b", "cnt").select(
        concat(lit("w"), col("a").cast("string"), col("b").cast("string"))
          .as("word"),
        concat_ws("|", lit("w"), col("a").cast("string"),
          col("b").cast("string")).as("syms0"),
        col("cnt"))
        .select(col("word"), when(col("word").isNotNull, col("syms0")).as("syms"),
          col("cnt"))
      def merges(r: (Seq[BpeTrain.Merge], DataFrame)) = (r._1, rowsOf(r._2))
      sameOutcome(s"$g", BpeTrain.trainMerges(words, 2),
        BpeTrain.trainMergesDistributed(words, 2), merges)
      val ms = Seq((1, "w", "n1"), (2, "n0", "n0"))
      sameOutcome(s"$g curve", BpeTrain.compressionCurve(words, ms),
        BpeTrain.compressionCurveDistributed(words, ms), rowsOf)
    }
  }

  test("IVF/PQ training and ANN ≡ their distributed twins on generated corpora") {
    vecCases.foreach { v =>
      val emb = vecFrame(v)
      sameOutcome(s"$v train", Similarity.ivfTrain(emb, 3, 1),
        Similarity.ivfTrainWith(emb, 3, 1, None),
        (cs: Array[(Int, Array[Double])]) => canon(cs.toSeq))
      sameOutcome(s"$v pq", Similarity.pqEncodeTrained(emb, m = 2,
          subDim = 2, ks = 4, iters = 1),
        Similarity.pqEncodeTrainedWith(emb, 2, 2, 4, 1, None), rowsOf)
      sameOutcome(s"$v ann", Similarity.ivfAnn(emb, queryVecId = 0L, k = 5,
          nCentroids = 3, nProbe = 2, iters = 1),
        Similarity.ivfAnnWith(emb, 0L, 5, 3, 2, 1, None), rowsOf)
    }
  }

  // ------------------------------------------------------------ guard --

  private def decision(df: DataFrame, reads: String*): Option[Int] =
    DriverSolve(df, reads)(_.length)

  test("DriverSolve bounds bytes, not rows: fixed widths, strings, arrays") {
    val max = DriverSolve.MaxBytes
    // 1,024 two-octet characters a row: exactly the bound, then one row over
    def strings(n: Long) = spark.range(n).select(repeat(lit("é"), 1024).as("s"))
    assert(decision(strings(max / 2048), "s").contains((max / 2048).toInt))
    assert(decision(strings(max / 2048 + 1), "s").isEmpty)
    assert(decision(spark.range(max / 4096 + 1)
      .select(array_repeat(lit(1.0f), 1024).as("v")), "v").isEmpty)
    assert(decision(spark.range(max / 8 + 1).toDF("id"), "id").isEmpty)
    // only the read columns count
    assert(decision(spark.range(1).select(col("id"),
      repeat(lit("x"), (max + 1).toInt).as("s")), "id").contains(1))
  }

  test("DriverSolve declines empty input and every bad value in the reads") {
    import spark.implicits._
    assert(decision(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").isEmpty)
    assert(decision(Seq((1L, Option.empty[Long])).toDF("a", "b"), "a", "b").isEmpty)
    assert(decision(Seq((1L, Option.empty[Long])).toDF("a", "b"), "a").contains(1))
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .foreach(x => assert(decision(Seq(1.0, x).toDF("x"), "x").isEmpty, x))
    assert(decision(Seq(Seq(1f, Float.NaN)).toDF("v"), "v").isEmpty)
    assert(decision(Seq(Seq(Some(1L), None)).toDF("v"), "v").isEmpty)
    assert(decision(Seq(Seq(1f, 2f), Seq(3f)).toDF("v"), "v").contains(2))
  }

  test("DriverSolve leaves a checkpointed frame to its caller's scope") {
    import spark.implicits._
    val sc = spark.sparkContext
    def live(df: DataFrame) = df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        sc.getPersistentRDDs.contains(l.rdd.id)
    }
    // `use` runs on a checkpoint of `rows` inside a scope; the checkpoint
    // is returned for the check at the scope's exit
    def atExit(rows: DataFrame)(use: DataFrame => Any): DataFrame = {
      var ck: DataFrame = null
      try Checkpoint.scope { ck = Checkpoint(rows); use(ck); () }
      catch { case _: IllegalStateException => }
      ck
    }
    val declined = atExit(Seq((1L, Option.empty[Long])).toDF("a", "b")) { ck =>
      assert(decision(ck, "a", "b").isEmpty && live(ck))
    }
    val solved = atExit(Seq((1L, 2L)).toDF("a", "b")) { ck =>
      assert(decision(ck, "a", "b").contains(1) && live(ck))
    }
    var threw = false
    val thrown = atExit(Seq((1L, 2L)).toDF("a", "b")) { ck =>
      threw = true
      DriverSolve(ck, Seq("a"))(_ => throw new IllegalStateException("x"))
      threw = false
    }
    assert(threw)
    Seq(declined, solved, thrown).foreach(ck => assert(!live(ck)))
  }
}
