package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape + semantics specs for [[graft.plans.HammingJoinRewrite]]:
  * the natural `bit_count(a ^ b) <= k` join must plan as the banded
  * hash join (no BroadcastNestedLoopJoin / CartesianProduct), produce
  * exactly the brute-force pair set with exact multiplicity (the
  * minimal-band guard, not a Distinct), and leave non-matching joins
  * untouched. Gated end-to-end as q79 against the DuckDB oracle. */
class HammingRewriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s
  }

  private def session(): SparkSession = {
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    s2
  }

  /** Deterministic well-spread fingerprints (the splitmix-style mix). */
  private def fp(i: Long): Long = {
    var z = i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def bruteForce(sims: Seq[(Long, Long)], k: Int): Set[(Long, Long)] =
    (for {
      (ia, sa) <- sims; (ib, sb) <- sims
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= k
    } yield (ia, ib)).toSet

  private def mkSims(s2: SparkSession, n: Int): Seq[(Long, Long)] = {
    // base fingerprints plus planted near-dups at controlled distances
    val base = (0L until n.toLong).map(i => (i, fp(i)))
    val planted = (0L until n.toLong by 7).map { i =>
      (1000L + i, fp(i) ^ (1L << (i % 64).toInt) ^
        (if (i % 3 == 0) 1L << ((i * 31) % 64).toInt else 0L))
    }
    base ++ planted
  }

  test("natural bit_count join rewrites away from nested-loop and matches brute force") {
    val s2 = session()
    import s2.implicits._
    val sims = mkSims(s2, 60)
    val df = sims.toDF("id", "sim")
    val a = df.toDF("id_a", "sa")
    val b = df.toDF("id_b", "sb")
    val joined = a.join(b,
      bit_count($"sa".bitwiseXOR($"sb")) <= 3 && $"id_a" < $"id_b")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"natural hamming join still plans as a nested loop:\n$plan")
    val got = joined.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === bruteForce(sims, 3))
    // exact multiplicity: no pair may appear twice (minimal-band guard)
    assert(got.length === got.toSet.size, "duplicate pairs — multiplicity guard failed")
  }

  test("strict-inequality and reversed forms rewrite too; k=1 uses 2 bands") {
    val s2 = session()
    import s2.implicits._
    val sims = mkSims(s2, 40)
    val df = sims.toDF("id", "sim")
    val a = df.toDF("id_a", "sa")
    val b = df.toDF("id_b", "sb")
    for ((cond, k) <- Seq(
        (bit_count($"sa".bitwiseXOR($"sb")) < 2, 1),
        (lit(1) >= bit_count($"sa".bitwiseXOR($"sb")), 1))) {
      val j = a.join(b, cond && $"id_a" < $"id_b")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"form $cond not rewritten:\n$plan")
      assert(j.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === bruteForce(sims, k))
    }
  }

  test("input multiplicity is preserved (duplicate rows join as Inner semantics demand)") {
    val s2 = session()
    import s2.implicits._
    // two identical left rows must each pair with the matching right row
    val l = Seq((1L, 5L), (1L, 5L)).toDF("id_a", "sa")
    val r = Seq((2L, 7L)).toDF("id_b", "sb") // hamming(5,7) = 1
    val j = l.join(r, bit_count($"sa".bitwiseXOR($"sb")) <= 3)
    assert(j.count() === 2L)
    assert(!j.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("LeftSemi and LeftAnti rewrite to the banded plan and match brute force exactly") {
    val s2 = session()
    import s2.implicits._
    val sims = mkSims(s2, 60)
    val evalSet = sims.filter(_._1 % 5 == 0) // a disjointly-sampled "eval" side
    val l = sims.toDF("id", "sim")
    val r = evalSet.map { case (i, s) => (i + 5000L, s) }.toDF("id_e", "se")
    val cond = bit_count($"sim".bitwiseXOR($"se")) <= 3
    val matchedIds = (for {
      (il, sl) <- sims; (_, sr) <- evalSet
      if java.lang.Long.bitCount(sl ^ sr) <= 3
    } yield il).toSet
    for ((jt, expected) <- Seq(
        ("left_semi", matchedIds),
        ("left_anti", sims.map(_._1).toSet -- matchedIds))) {
      val j = l.join(r, cond, jt)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$jt hamming join still plans as a nested loop:\n$plan")
      assert(j.columns.toSeq === Seq("id", "sim"), s"$jt must output the left schema only")
      val got = j.select("id").collect().map(_.getLong(0))
      assert(got.length === got.toSet.size, s"$jt emitted per-band duplicates")
      assert(got.toSet === expected, s"$jt result diverges from brute force")
    }
  }

  test("Semi/Anti preserve duplicate-left-row multiplicity and null fingerprints") {
    val s2 = session()
    import s2.implicits._
    // two bitwise-identical left rows: Semi keeps BOTH when matched,
    // Anti keeps BOTH when unmatched; a null fingerprint never matches
    val l = Seq((1L, java.lang.Long.valueOf(5L)), (1L, java.lang.Long.valueOf(5L)),
      (2L, java.lang.Long.valueOf(-1L)), (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "sim")
    val r = Seq((10L, 7L)).toDF("id_e", "se") // hamming(5,7)=1 — matches id=1 only
    val semi = l.join(r, bit_count($"sim".bitwiseXOR($"se")) <= 3, "left_semi")
    val anti = l.join(r, bit_count($"sim".bitwiseXOR($"se")) <= 3, "left_anti")
    assert(semi.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 1L))
    assert(anti.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    for (j <- Seq(semi, anti))
      assert(!j.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("Semi/Anti tolerate ungroupable payload types and return float payloads byte-unchanged") {
    val s2 = session()
    import s2.implicits._
    // a MAP column on the preserved side (grouping on maps is unsupported —
    // the re-collapse must group on rid alone) and a -0.0 double that a
    // float-normalizing group-by would rewrite to 0.0
    val l = Seq(
      (1L, 5L, Map("k" -> 1), -0.0),
      (2L, -1L, Map("other" -> 2), 1.5)).toDF("id", "sim", "meta", "score")
    val r = Seq((10L, 7L)).toDF("id_e", "se") // matches sim=5 at distance 1
    val semi = l.join(r, bit_count($"sim".bitwiseXOR($"se")) <= 3, "left_semi")
    val anti = l.join(r, bit_count($"sim".bitwiseXOR($"se")) <= 3, "left_anti")
    for (j <- Seq(semi, anti))
      assert(!j.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "map-typed payload fell back to a nested loop")
    val sRow = semi.collect()
    assert(sRow.map(_.getLong(0)).toSeq === Seq(1L))
    assert(sRow.head.getMap[String, Int](2).toMap === Map("k" -> 1))
    assert(java.lang.Double.doubleToRawLongBits(sRow.head.getDouble(3)) ===
      java.lang.Double.doubleToRawLongBits(-0.0), "-0.0 payload was normalized")
    assert(anti.collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("non-attribute fingerprints are projected once, not re-evaluated per band and pair") {
    val s2 = session()
    graft.plans.SpatialPlanner.registerSql(s2)
    import s2.implicits._
    (0 until 10).map(i => (i.toLong, s"doc number $i words"))
      .toDF("id", "text").createOrReplaceTempView("fpdocs")
    val df = s2.sql(
      """SELECT a.id FROM fpdocs a JOIN fpdocs b
        |ON bit_count(simhash64(a.text) ^ simhash64(b.text)) <= 3 AND a.id < b.id""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    val evals = "simhash64".r.findAllIn(plan).length
    // one Project per side (the __graft_hb_fp alias); embedding the raw
    // expression in band keys + minimality + refine would show 10+ sites
    assert(evals <= 4, s"simhash64 appears $evals times in the plan — re-evaluated per band/pair:\n$plan")
    assert(df.count() >= 0) // executes
  }

  test("pure-SQL near-dup join via simhash64() rewrites and matches brute force") {
    val s2 = session()
    graft.plans.SpatialPlanner.registerSql(s2)
    import s2.implicits._
    val texts = (0 until 40).map { i =>
      (i.toLong, (0 until 20).map(k => s"w${(i * 13 + k * 7) % 60}").mkString(" "))
    }
    texts.toDF("id", "text").createOrReplaceTempView("sqldocs")
    val df = s2.sql(
      """SELECT a.id AS id_a, b.id AS id_b
        |FROM sqldocs a JOIN sqldocs b
        |ON bit_count(simhash64(a.text) ^ simhash64(b.text)) <= 3
        |   AND a.id < b.id""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"SQL-surface hamming join still plans as a nested loop:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fps = texts.map { case (i, t) => (i, Queries.simhash64(t)) }
    val expected = (for {
      (ia, sa) <- fps; (ib, sb) <- fps
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(got === expected)
    // the codegen'd expression and the kernel agree (interpreted parity
    // is covered suite-wide by the NO_CODEGEN gate run)
    val one = s2.sql("SELECT simhash64('alpha beta gamma') AS s").head().getLong(0)
    assert(one === Queries.simhash64("alpha beta gamma"))
  }

  test("NOT EXISTS / EXISTS SQL shapes plan banded via the planning-time strategy") {
    val s2 = session()
    graft.plans.SpatialPlanner.registerSql(s2)
    import s2.implicits._
    val sims = mkSims(s2, 40)
    sims.toDF("id", "sim").createOrReplaceTempView("nedocs")
    // the decontamination shape: RewriteSubquery only manufactures the
    // LeftAnti join AFTER the optimizer-rule batches — the strategy twin
    // must catch it at physical planning (strategy-only would also work;
    // GraftExtensionsSpec pins the spark.sql.extensions path end-to-end)
    for ((shape, op) <- Seq(("NOT EXISTS", "left_anti"), ("EXISTS", "left_semi"))) {
      val df = s2.sql(
        s"""SELECT t.id FROM nedocs t WHERE $shape (
           |  SELECT 1 FROM nedocs e
           |  WHERE bit_count(t.sim ^ e.sim) <= 3 AND t.id <> e.id)""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$shape still plans as a nested loop:\n$plan")
      val got = df.collect().map(_.getLong(0)).toSet
      val matched = (for {
        (i, s) <- sims; (j, t) <- sims
        if i != j && java.lang.Long.bitCount(s ^ t) <= 3
      } yield i).toSet
      val expected = if (op == "left_anti") sims.map(_._1).toSet -- matched else matched
      assert(got === expected, s"$shape result diverges from brute force")
    }
  }

  test("joins with an existing equi-key or non-long fingerprints are left alone") {
    val s2 = session()
    import s2.implicits._
    val l = Seq((1L, 5L, 1L)).toDF("id_a", "sa", "ka")
    val r = Seq((2L, 7L, 1L)).toDF("id_b", "sb", "kb")
    // equi-key present: the hash join on ka=kb is already the right plan
    val j1 = l.join(r, $"ka" === $"kb" && bit_count($"sa".bitwiseXOR($"sb")) <= 3)
    assert(!j1.queryExecution.optimizedPlan.toString.contains("__graft_hb"))
    assert(j1.count() === 1L)
    // int fingerprints: out of contract (64-bit standard), no rewrite
    val li = Seq((1L, 5)).toDF("id_a", "sa")
    val ri = Seq((2L, 7)).toDF("id_b", "sb")
    val j2 = li.join(ri, bit_count($"sa".bitwiseXOR($"sb")) <= 3)
    assert(!j2.queryExecution.optimizedPlan.toString.contains("__graft_hb"))
    assert(j2.count() === 1L)
  }
}
