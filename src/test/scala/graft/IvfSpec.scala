package graft

import graft.operators.IvfIndex
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF coarse-quantizer mechanics: partition property + planted-near-dup
  * recall through the probed candidate join (the sim4 shape). */
class IvfSpec extends SparkSpec {

  private val Dim = 64

  private def planted(n: Int, dups: Int, noise: Double) = {
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(Dim)(rnd.nextGaussian())
    val base = (0 until n).map(i => (i.toLong, vec()))
    val nearDups = (0 until dups).map { i =>
      val (_, v) = base(i)
      ((n + i).toLong, v.map(x => x + noise * rnd.nextGaussian()))
    }
    import spark.implicits._
    ((base ++ nearDups).map { case (id, v) =>
      (id, v.toSeq.map(x => math.floor(x * 1e6 + 0.5).toLong))
    }.toDF("vec_id", "qv"),
     (0 until dups).map(i => (i.toLong, (n + i).toLong)))
  }

  private def withDots(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"), col("qv"),
      IvfIndex.dots(col("qv"), Dim).as("dl"))

  test("assignment partitions the corpus: exactly one list per vector") {
    val (df, _) = planted(100, 0, 0.0)
    val asg = withDots(df).select(col("vec_id"),
      IvfIndex.assign(col("dl")).as("cid"))
    assert(asg.count() == 100)
    assert(asg.select("vec_id").distinct().count() == 100)
    val cids = asg.select("cid").distinct()
      .collect().map(_.getInt(0))
    assert(cids.forall(c => c >= 0 && c < IvfIndex.C))
  }

  test("cellsFor pins list density: floor at the oracle SFs, ∝n above") {
    // every oracle fixture sits on the C floor — the bit-exact DuckDB
    // replay of assignment depends on this
    for (n <- Seq(0L, 500L, 2000L, 4095L))
      assert(IvfIndex.cellsFor(n) == IvfIndex.C, s"n=$n")
    // above the floor the cell count tracks n/target (linear pair space)
    assert(IvfIndex.cellsFor(20000L) == 78)  // 10× sf0.1 replica
    assert(IvfIndex.cellsFor(40000L) == 156) // 20× sf0.1 replica
    assert(IvfIndex.cellsFor(1000000L) == 1000000L / IvfIndex.TargetCellSize)
  }

  test("the centroid family is a prefix: growing cells keeps old rows") {
    val small = IvfIndex.matrix(Dim)
    val big = IvfIndex.matrix(Dim, 64)
    assert(big.take(IvfIndex.C) == small)
    assert(big.length == 64)
    // all axis values stay on the quantization grid's range
    assert(big.flatten.forall(v => v >= -1000000L && v <= 1000000L))
  }

  test("a grown quantizer still partitions, with cids beyond the floor") {
    val (df, _) = planted(600, 0, 0.0)
    val cells = 32
    val asg = df.select(col("vec_id"),
        IvfIndex.dots(col("qv"), Dim, cells).as("dl"))
      .select(col("vec_id"), IvfIndex.assign(col("dl")).as("cid"))
    assert(asg.count() == 600)
    val cids = asg.select("cid").distinct().collect().map(_.getInt(0))
    assert(cids.forall(c => c >= 0 && c < cells))
    // the extra centroids genuinely attract mass (the LCG family isn't
    // degenerate beyond the fixture prefix)
    assert(cids.exists(_ >= IvfIndex.C),
      "no vector assigned beyond the C floor with a grown quantizer")
  }

  test("hierarchical assignment: partition, range, determinism") {
    val (df, _) = planted(400, 0, 0.0)
    val cells = 100 // G=10 parents × B=10 children
    val asg = df.select(col("vec_id"),
      IvfIndex.assignHier(col("qv"), Dim, cells).as("cid"))
    assert(asg.count() == 400)
    val cids = asg.collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(cids.forall { case (_, c) => c >= 0 && c < cells })
    // deterministic across runs
    val again = df.select(col("vec_id"),
      IvfIndex.assignHier(col("qv"), Dim, cells).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(cids.toMap == again.toMap)
    // a truncated last block never mints an out-of-range id
    val odd = df.select(
      IvfIndex.assignHier(col("qv"), Dim, 97).as("cid"))
      .collect().map(_.getInt(0))
    assert(odd.forall(c => c >= 0 && c < 97))
  }

  test("hierarchical locality: planted children land in their own block; " +
    "two-level argmax agrees with flat argmax over the same family") {
    import spark.implicits._
    val cells = 64
    val (_, b) = IvfIndex.hierGeometry(cells)
    // (1) vectors placed AT child centroids must win level 1 for their
    // own parent (children sit within the ±1e5 jitter of their parent,
    // other parents are LCG-far) — the block-level locality claim. The
    // EXACT sibling chosen inside the block is legitimately unstable for
    // an inner-product quantizer (siblings share the parent direction;
    // IP-argmax among them is jitter-order noise), so only the block is
    // asserted per planted vector.
    val planted = (0 until cells).map { cid =>
      (cid.toLong, IvfIndex.childCentroid(cid / b, cid % b, Dim).toSeq)
    }
    val blockHits = planted.toDF("expected_cid", "qv")
      .select(col("expected_cid"),
        IvfIndex.assignHier(col("qv"), Dim, cells).as("cid"))
      .collect()
      .count(r => r.getInt(1) / b == r.getLong(0).toInt / b)
    assert(blockHits == cells,
      s"only $blockHits/$cells planted children kept their parent block")

    // (2) on arbitrary vectors, the O(√cells·dim) two-level argmax must
    // agree with the O(cells·dim) FLAT argmax over the SAME child family
    // almost always (the parent term dominates the jitter term, so the
    // best child's parent is the best parent) — this is the claim that
    // lets the warehouse-scale build drop the quadratic term
    val (df, _) = this.planted(400, 0, 0.0)
    val childMat = (0 until cells)
      .map(cid => IvfIndex.childCentroid(cid / b, cid % b, Dim): Seq[Long])
    val dl = transform(typedLit(childMat), c =>
      aggregate(zip_with(col("qv"), c, (x, y) => x * y),
        lit(0L), (a, v) => a + v))
    val both = df.select(
      IvfIndex.assign(dl).as("flat"),
      IvfIndex.assignHier(col("qv"), Dim, cells).as("hier"))
      .collect()
    val agree = both.count(r => r.getInt(0) == r.getInt(1))
    assert(agree >= 360, // ≥90%
      s"two-level agreed with flat on only $agree/400 vectors")
  }

  test("probeCells (flat) reproduces the inline rank plan exactly") {
    val (df, _) = planted(120, 0, 0.0)
    val dots = withDots(df)
    // the inline plan every sim consumer ran before the helper existed
    val w = Window.partitionBy("query_id")
      .orderBy(col("col").desc, col("pos").asc)
    val inline = dots.filter(col("vec_id") < 30)
      .select(col("vec_id").as("query_id"), posexplode(col("dl")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= IvfIndex.P)
      .select(col("query_id"), col("pos").as("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val helper = IvfIndex.probeCells(
      dots.filter(col("vec_id") < 30)
        .select(col("vec_id").as("query_id"), col("qv"), col("dl")),
      "query_id", Dim, IvfIndex.C)
      .select("query_id", "cid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(helper == inline)
  }

  test("probeCells (hier) matches the JVM-computed two-level expansion") {
    val (df, _) = planted(30, 0, 0.0)
    val cells = 60 // G=8 parents, B=8, last block truncated to 4 children
    val (g, b) = IvfIndex.hierGeometry(cells)
    val (bP, keepC) = IvfIndex.hierBudget(cells)
    val q = df.select(col("vec_id").as("query_id"), col("qv"),
      IvfIndex.parentDots(col("qv"), Dim, cells).as("dl"))
    val got = IvfIndex.withForceHier() {
      IvfIndex.probeCells(q, "query_id", Dim, cells)
        .select("query_id", "cid")
        .collect().map(r => r.getLong(0) -> r.getInt(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    }
    // independent JVM reference: top-bP parents by dot (ties to low id),
    // then top-keepC children PER BLOCK (ties to low cid) — the
    // parent-diversity allocation (a global child rank would collapse to
    // the parent rank, the r11 recall failure)
    val parents = (0 until g).map(IvfIndex.centroid(_, Dim))
    val expect = df.select("vec_id", "qv").collect().map { r =>
      val qv = r.getSeq[Long](1)
      def dot(c: IndexedSeq[Long]) =
        qv.zip(c).map { case (x, y) => x * y }.sum
      val blocks = parents.zipWithIndex.map { case (c, j) => (dot(c), j) }
        .sortBy { case (d, j) => (-d, j) }.take(bP).map(_._2)
      val kids = blocks.flatMap { blk =>
        val nKids = math.min(b, cells - blk * b)
        (0 until nKids).map { i =>
          (dot(IvfIndex.childCentroid(blk, i, Dim)), blk * b + i)
        }.sortBy { case (d, cid) => (-d, cid) }.take(keepC)
      }
      r.getLong(0) -> kids.map(_._2).toSet
    }.toMap
    assert(got == expect)
    // every probed cid matches its effective centroid's family position
    got.values.flatten.foreach(cid => assert(cid >= 0 && cid < cells))
  }

  test("hier probe recall on the planted set is >= the flat path's at " +
    "the same cell count") {
    val (df, pairs) = planted(n = 200, dups = 50, noise = 0.02)
    val cells = 64
    def recovered(useHier: Boolean): Int =
      IvfIndex.withForceHier(useHier) {
        val (dl, cid) =
          if (useHier)
            (IvfIndex.parentDots(col("qv"), Dim, cells),
              IvfIndex.assignHier(col("qv"), Dim, cells))
          else
            (IvfIndex.dots(col("qv"), Dim, cells),
              IvfIndex.assign(IvfIndex.dots(col("qv"), Dim, cells)))
        val corpus = df.select(col("vec_id").as("cand_id"), cid.as("cid"))
        val probes = IvfIndex.probeCells(
          df.filter(col("vec_id") < 50)
            .select(col("vec_id").as("query_id"), col("qv"), dl.as("dl")),
          "query_id", Dim, cells)
        val cand = corpus.join(probes.select("query_id", "cid"), "cid")
          .filter(col("cand_id") =!= col("query_id"))
          .select("query_id", "cand_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        pairs.count(cand.contains)
      }
    val flat = recovered(useHier = false)
    val hier = recovered(useHier = true)
    // the brief's acceptance bar: the two-level quantizer must not pay
    // for its n^1.5 build with recall — on the same planted set, at the
    // same cell count, it recovers at least what flat does
    assert(hier >= flat,
      s"hier recovered $hier/${pairs.size}, flat $flat/${pairs.size}")
    assert(hier >= 45, s"hier recovered only $hier/${pairs.size}")
  }

  test("childDotsFormula equals childDotsLit on every block, including " +
    "the truncated last one (the no-literal probe plan is byte-honest)") {
    import spark.implicits._
    val (df, _) = planted(40, 0, 0.0)
    for (cells <- Seq(60, 97, 100)) {
      val (g, _) = IvfIndex.hierGeometry(cells)
      val withBlk = df.crossJoin(
        (0 until g).toDF("blk").select(col("blk").cast("int").as("blk")))
      val both = withBlk.select(
        IvfIndex.childDotsLit(col("qv"), col("blk"), Dim, cells).as("lit"),
        IvfIndex.childDotsFormula(col("qv"), col("blk"), Dim, cells)
          .as("formula"))
      assert(both.filter(col("lit") =!= col("formula")).isEmpty,
        s"formula/literal child dots diverged at cells=$cells")
    }
  }

  test("the child-matrix literal is guarded: beyond ChildLitMaxCells the " +
    "literal path refuses and assignHier routes to the formula path") {
    // literal path: loud require, no silent multi-MB plan constant
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.childDotsLit(col("qv"), lit(0), Dim,
        IvfIndex.ChildLitMaxCells + 1)
    }
    assert(ex.getMessage.contains("literal"))
    // routed path: assignHier past the boundary still plans AND evaluates
    // (via the formula — this would throw if it touched childrenLit)
    val (df, _) = planted(5, 0, 0.0)
    val cells = IvfIndex.ChildLitMaxCells + 50
    val cids = df.select(
      IvfIndex.assignHier(col("qv"), Dim, cells).as("cid"))
      .collect().map(_.getInt(0))
    assert(cids.forall(c => c >= 0 && c < cells))
  }

  test("assignHier computes the parent argmax once per row: no " +
    "parent-dot aggregate inside any child lambda") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform,
      Expression, LambdaFunction, Literal}
    // the parent dots are the one transform over a literal matrix
    def isParentDots(e: Expression) = e match {
      case t: ArrayTransform => t.argument.isInstanceOf[Literal]
      case _ => false
    }
    val (df, _) = planted(1, 0, 0.0)
    for (cells <- Seq(100, IvfIndex.ChildLitMaxCells + 50)) {
      val es = df.select(IvfIndex.assignHier(col("qv"), Dim, cells))
        .queryExecution.analyzed.expressions
      assert(es.map(_.collect { case x if isParentDots(x) => x }.size).sum
        == 1, s"cells=$cells: parent dots built more than once")
      val inLambda = es.flatMap(_.collect { case l: LambdaFunction => l })
        .exists(_.function.find(isParentDots).isDefined)
      assert(!inLambda, s"cells=$cells: parent dots inside a child lambda")
    }
  }


  test("probe budgets target a constant corpus share: P=4 exactly at the " +
    "oracle floor, ∝cells above it, continuous across the regime seam") {
    // ORACLE BYTE-STABILITY PIN: at the C-cell floor the share term
    // (⌈0.125·16⌉ = 2) sits under the P floor, so every verified SF
    // keeps the exact historical P=4 probe plan
    assert(IvfIndex.flatBudget(IvfIndex.C) == IvfIndex.P)
    assert(IvfIndex.hierBudget(IvfIndex.C) == (4, 4))
    // grown-flat band: the budget tracks ⌈share·cells⌉ (a fixed count
    // would shrink the probed share toward zero before the threshold)
    assert(IvfIndex.flatBudget(781) == 98)   // the x100 replica point
    assert(IvfIndex.flatBudget(4096) == 512) // the last flat cell count
    // hier side of the seam: ⌈√share·fanout⌉ per level ⇒ ≈share overall
    val (g, b) = IvfIndex.hierGeometry(5859)
    val (bP, c) = IvfIndex.hierBudget(5859)
    val f = math.sqrt(IvfIndex.TargetProbeShare)
    assert(bP == math.ceil(g * f).toInt && c == math.ceil(b * f).toInt)
    val share = bP.toDouble * c / 5859
    assert(share > 0.10 && share < 0.16, s"probed cell share $share")
    // seam continuity: flat at 4096 cells = 12.5%; hier at 4097 ≈ 12.9%
    val (bP2, c2) = IvfIndex.hierBudget(4097)
    val seam = bP2.toDouble * c2 / 4097
    assert(math.abs(seam - 0.125) < 0.02, s"seam share $seam")
    // share=1 probes everything, never more
    assert(IvfIndex.hierBudget(5859, share = 1.0) == (g, b))
    assert(IvfIndex.flatBudget(781, share = 1.0) == 781)
    // caller's p floors both budgets
    assert(IvfIndex.hierBudget(5859, p = 40, share = 0.0) == (40, 40))
    assert(IvfIndex.flatBudget(781, p = 200, share = 0.0) == 200)
  }

  test("probeCells rejects inputs carrying its reserved working columns") {
    val (df, _) = planted(10, 0, 0.0)
    val q = withDots(df).select(col("vec_id").as("query_id"), col("qv"),
      col("dl"))
    for (bad <- Seq("cid", "__pd", "__rn", "__blk")) {
      val ex = intercept[IllegalArgumentException] {
        IvfIndex.probeCells(q.withColumn(bad, lit(1)),
          "query_id", Dim, IvfIndex.C)
      }
      assert(ex.getMessage.contains(bad))
    }
  }

  test("P-probe candidate join recovers planted near-duplicates") {
    val (df, pairs) = planted(n = 200, dups = 50, noise = 0.02)
    val dots = withDots(df)
    val corpus = dots.select(col("vec_id").as("cand_id"),
      IvfIndex.assign(col("dl")).as("cid"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("col").desc, col("pos").asc)
    val probes = dots.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), posexplode(col("dl")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= IvfIndex.P)
      .select(col("query_id"), col("pos").as("cid"))
    val cand = corpus.join(probes, "cid")
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = pairs.count(cand.contains)
    // a near-dup's argmax centroid is almost always the original's; when
    // noise flips a tight argmax race, the dup still lands in one of the
    // query's P=4 probed lists with high probability
    assert(recovered >= 45, s"IVF recovered only $recovered/50 planted pairs")
  }
}
