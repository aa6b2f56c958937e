package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Enrich
import graft.sources.Tables

/** Differential fuzzing through the oracle gate: a deterministic
  * generator emits a grid of (predicate × group-key × aggregate)
  * fragments over lineitem, and BOTH faces of every fragment — the
  * DataFrame build and the DuckDB SQL — come from the same generator
  * tables, so the driver's hash compare exercises the cross product
  * instead of one hand-written shape per query.
  *
  * Why this exists: each hand-authored registry query pins one
  * (filter, group, agg) combination; bugs live in the INTERACTIONS
  * (a predicate that flips a group empty, a distinct-count under a
  * modulus filter, a timestamp group under a range predicate — the
  * classic differential-testing surface of SQLancer/sqlsmith, here
  * pointed at Spark-vs-DuckDB). The grid is deterministic — no RNG,
  * so every round gates the identical 48 fragments and a mismatch
  * reproduces by case_id.
  *
  * Shape: 6 predicates × 4 group keys, each pair carrying 2 of the 5
  * aggregates by index rotation (every aggregate appears ≥9 times).
  * All values land as DOUBLE through the exact-decimal helpers
  * ([[Enrich.exactSum]]) so float accumulation order can't flake the
  * gate. This is a correctness harness, not a perf shape: 48 filtered
  * aggregate legs over one fact is a plan you'd never run at 100 TB —
  * the benched aggregate faces are `agg_tpch_q1`/`agg_group`.
  */
object FuzzQueries {

  /** (id, DataFrame predicate, DuckDB predicate) */
  private val predicates: Seq[(String, Column, String)] = Seq(
    ("p0", lit(true), "1=1"),
    ("p1", col("l_quantity") < 25, "l_quantity < 25"),
    ("p2", col("l_discount").between(0.02, 0.06),
      "l_discount BETWEEN 0.02 AND 0.06"),
    ("p3", col("l_shipdate") >= lit("1996-06-01").cast("timestamp"),
      "l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'"),
    ("p4", pmod(col("l_orderkey"), lit(7)) === 0, "l_orderkey % 7 = 0"),
    ("p5", col("l_tax") > col("l_discount"), "l_tax > l_discount"))

  /** (id, group expression as string, DuckDB group expression) */
  private val groups: Seq[(String, Column, String)] = Seq(
    ("g0", col("l_returnflag"), "l_returnflag"),
    ("g1", col("l_linestatus"), "l_linestatus"),
    ("g2", year(col("l_shipdate")).cast("string"),
      "CAST(year(l_shipdate) AS VARCHAR)"),
    ("g3", col("l_linenumber").cast("string"),
      "CAST(l_linenumber AS VARCHAR)"))

  /** (id, DataFrame aggregate, DuckDB aggregate) — every value DOUBLE,
    * sums through the exact-decimal path (see Verify float rules).
    */
  private val aggs: Seq[(String, Column, String)] = Seq(
    ("a0", count(lit(1)).cast("double"), "CAST(count(*) AS DOUBLE)"),
    ("a1", round(Enrich.exactSum(col("l_quantity")), 4),
      "round(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE), 4)"),
    ("a2", min(col("l_extendedprice")).cast("double"),
      "CAST(min(l_extendedprice) AS DOUBLE)"),
    ("a3", max(col("l_extendedprice")).cast("double"),
      "CAST(max(l_extendedprice) AS DOUBLE)"),
    ("a4", countDistinct(col("l_suppkey")).cast("double"),
      "CAST(count(DISTINCT l_suppkey) AS DOUBLE)"))

  /** The grid: every (predicate, group) pair with two aggregates
    * chosen by index rotation — deterministic, and chosen so all five
    * aggregates meet all six predicates across the grid.
    */
  private val grid: Seq[(String, Int, Int, Int)] = for {
    (pi, gi) <- predicates.indices.flatMap(p => groups.indices.map(g => (p, g)))
    ai <- Seq((pi + gi) % aggs.size, (pi + 2 * gi + 3) % aggs.size).distinct
  } yield (s"p${pi}g${gi}a$ai", pi, gi, ai)

  def fuzzRelationalGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    grid.map { case (id, pi, gi, ai) =>
      li.filter(predicates(pi)._2)
        .groupBy(groups(gi)._2.as("grp"))
        .agg(aggs(ai)._2.as("val"))
        .select(lit(id).as("case_id"), col("grp"), col("val"))
    }.reduce(_ unionByName _)
      .orderBy(col("case_id"), col("grp"))
  }

  private val fuzzOracle: String =
    grid.map { case (id, pi, gi, ai) =>
      s"""SELECT '$id' AS case_id, ${groups(gi)._3} AS grp,
         |  ${aggs(ai)._3} AS val
         |FROM lineitem WHERE ${predicates(pi)._3}
         |GROUP BY 2""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY case_id, grp")

  // ---- join grid: join TYPE × fact predicate × dim predicate ------
  //
  // The relational grid fuzzes one-table (filter, group, agg)
  // interactions; this grid fuzzes the JOIN axis, where the classic
  // differential bugs live: outer-join row preservation under a
  // filtered build side, semi/anti vs EXISTS/NOT-EXISTS equivalence
  // (the oracle deliberately spells them as subqueries), and filter
  // placement relative to the join. lineitem→orders is ~4:1 fact to
  // dim, so any dropped or doubled match shifts several group counts
  // at once. Both faces generated from the same tables as above.

  private val factPreds: Seq[(String, Column, String)] = Seq(
    ("f0", lit(true), "1=1"),
    ("f1", col("l_quantity") < 25, "l_quantity < 25"),
    ("f2", col("l_tax") > col("l_discount"), "l_tax > l_discount"))

  private val dimPreds: Seq[(String, Column, String)] = Seq(
    ("d0", lit(true), "1=1"),
    ("d1", col("o_orderpriority").startsWith("1"),
      "o_orderpriority LIKE '1%'"),
    ("d2", col("o_totalprice") > 150000.0, "o_totalprice > 150000.0"))

  /** (id, Spark join type, SQL shape). Semi/anti go through
    * EXISTS/NOT EXISTS on the oracle side — the portable spelling
    * whose equivalence to the join form is exactly what gets fuzzed.
    */
  private val joinTypes: Seq[String] = Seq("inner", "left", "semi", "anti")

  def fuzzJoinGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ords = Tables.orders(spark, sfDir)
    val legs = for {
      jt <- joinTypes
      (fid, fSpark, _) <- factPreds
      (did, dSpark, _) <- dimPreds
    } yield {
      val fact = li.filter(fSpark)
      val dim = ords.filter(dSpark).select(col("o_orderkey"))
      val joined = jt match {
        case "inner" => fact.join(dim,
          col("l_orderkey") === col("o_orderkey"), "inner")
        case "left" => fact.join(dim,
          col("l_orderkey") === col("o_orderkey"), "left")
        case "semi" => fact.join(dim,
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        case "anti" => fact.join(dim,
          col("l_orderkey") === col("o_orderkey"), "left_anti")
      }
      joined.groupBy(col("l_returnflag").as("grp"))
        .agg(count(lit(1)).cast("double").as("n"),
          round(Enrich.exactSum(col("l_quantity")), 4).as("qty"))
        .select(lit(s"$jt-$fid-$did").as("case_id"), col("grp"),
          col("n"), col("qty"))
    }
    legs.reduce(_ unionByName _).orderBy(col("case_id"), col("grp"))
  }

  private val fuzzJoinOracle: String = {
    val legs = for {
      jt <- joinTypes
      (fid, _, fSql) <- factPreds
      (did, _, dSql) <- dimPreds
    } yield {
      val dim = s"SELECT o_orderkey FROM orders WHERE $dSql"
      val from = jt match {
        case "inner" =>
          s"FROM lineitem JOIN ($dim) d ON l_orderkey = d.o_orderkey WHERE $fSql"
        case "left" =>
          s"FROM lineitem LEFT JOIN ($dim) d ON l_orderkey = d.o_orderkey WHERE $fSql"
        case "semi" =>
          s"""FROM lineitem WHERE $fSql AND EXISTS (
             |  SELECT 1 FROM orders WHERE $dSql AND o_orderkey = l_orderkey)""".stripMargin
        case "anti" =>
          s"""FROM lineitem WHERE $fSql AND NOT EXISTS (
             |  SELECT 1 FROM orders WHERE $dSql AND o_orderkey = l_orderkey)""".stripMargin
      }
      s"""SELECT '$jt-$fid-$did' AS case_id, l_returnflag AS grp,
         |  CAST(count(*) AS DOUBLE) AS n,
         |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE), 4)
         |    AS qty
         |$from
         |GROUP BY 2""".stripMargin
    }
    legs.mkString("", "\nUNION ALL\n", "\nORDER BY case_id, grp")
  }

  // ---- window grid: function × partition key × order direction ----
  //
  // The third fuzz axis, and the one with the subtlest cross-engine
  // semantics: rank/dense_rank tie handling (w1/w2 deliberately order
  // by the TIE-HEAVY quantity column), frame arithmetic (the running
  // sum pins an explicit ROWS frame and exact-decimal accumulation —
  // engines associate windowed double sums differently, e.g. segment
  // trees, so a double running sum is NOT portable), lag/lead null
  // edges, and ntile bucket boundaries. Order keys otherwise unique
  // (orderkey, linenumber) so every value is deterministic. Output
  // sampled post-window (~1/149 of rows) to keep the gate compact
  // while every window still computes over its full partition.

  private val winParts: Seq[(String, String)] = Seq(
    ("g0", "l_returnflag"), ("g1", "l_linestatus"))
  private val winDirs: Seq[(String, String)] = Seq(
    ("asc", "ASC"), ("desc", "DESC"))

  /** (id, spark builder given (partCol, dir), matching SQL OVER body).
    * Spark side built via expr() from the SAME SQL fragment — one
    * spelling, two engines, which is the point of the fuzz.
    */
  private def winFuncs(part: String, dir: String): Seq[(String, String)] = {
    // four keys: the testdata's lineitem is NOT unique on
    // (orderkey, linenumber) — 11 785 duplicate pairs at sf0.01, the
    // first thing this grid caught — but (ok, ln, qty, price) is a
    // total order, which lag/lead/row_number/ntile need to be
    // deterministic at all
    val uniqOrder = s"ORDER BY l_orderkey $dir, l_linenumber $dir, " +
      s"l_quantity $dir, l_extendedprice $dir"
    val tieOrder = s"ORDER BY l_quantity $dir"
    Seq(
      ("w0", s"row_number() OVER (PARTITION BY $part $uniqOrder)"),
      ("w1", s"CAST(rank() OVER (PARTITION BY $part $tieOrder) AS DOUBLE)"),
      ("w2", s"CAST(dense_rank() OVER (PARTITION BY $part $tieOrder) AS DOUBLE)"),
      ("w3", s"lag(l_quantity, 1) OVER (PARTITION BY $part $uniqOrder)"),
      ("w4", s"lead(l_quantity, 2) OVER (PARTITION BY $part $uniqOrder)"),
      ("w5", s"CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY $part $uniqOrder ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"),
      ("w6", s"CAST(ntile(4) OVER (PARTITION BY $part $uniqOrder) AS DOUBLE)"))
  }

  /** Output order discipline: (case_id, l_orderkey, l_linenumber) is
    * NOT total over the sampled rows (the duplicate-pair landmine
    * above), so the grid emits the full 4-key tiebreak — quantity and
    * price ride along as output columns — plus wval as a last resort
    * (unreachable while the 4 keys stay total; NULLS FIRST pinned on
    * both faces in case the data ever changes). Without this, dup
    * rows with different wval could legally swap under an
    * order-sensitive hash compare.
    */
  def fuzzWindowGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val legs = for {
      (gid, part) <- winParts
      (did, dir) <- winDirs
      (wid, sql) <- winFuncs(part, dir)
    } yield li
      .withColumn("wval", expr(sql).cast("double"))
      .filter(pmod(col("l_orderkey"), lit(149)) === 0)
      .select(lit(s"$wid-$gid-$did").as("case_id"),
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity").cast("double"), 4).as("l_quantity"),
        round(col("l_extendedprice").cast("double"), 4).as("l_extendedprice"),
        col("wval"))
    legs.reduce(_ unionByName _)
      .orderBy(col("case_id"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("wval").asc_nulls_first)
  }

  private val fuzzWindowOracle: String = {
    val legs = for {
      (gid, part) <- winParts
      (did, dir) <- winDirs
      (wid, sql) <- winFuncs(part, dir)
    } yield
      s"""SELECT * FROM (
         |  SELECT '$wid-$gid-$did' AS case_id, l_orderkey, l_linenumber,
         |    round(CAST(l_quantity AS DOUBLE), 4) AS l_quantity,
         |    round(CAST(l_extendedprice AS DOUBLE), 4) AS l_extendedprice,
         |    CAST($sql AS DOUBLE) AS wval
         |  FROM lineitem)
         |WHERE l_orderkey % 149 = 0""".stripMargin
    legs.mkString("", "\nUNION ALL\n",
      "\nORDER BY case_id, l_orderkey, l_linenumber, " +
        "l_quantity, l_extendedprice, wval NULLS FIRST")
  }

  // ---- set-op grid: operator × null handling × dup profile --------
  //
  // The fourth fuzz axis — the one relational family the other grids
  // don't sweep, and a classic cross-engine divergence surface:
  // UNION/INTERSECT/EXCEPT in DISTINCT vs ALL form (bag vs set
  // semantics: EXCEPT ALL's multiset subtraction and INTERSECT ALL's
  // min-multiplicity are the usual suspects), NULL equality inside
  // set ops (the standard says set ops treat NULLs as equal — unlike
  // predicates), and null ORDERING (each case ranks its result rows
  // with an explicit NULLS FIRST/LAST window, one spelling fed to
  // both engines). Legs are built from the SAME SQL fragments via
  // selectExpr, so there is exactly one spelling of every predicate
  // and projection. Results are emitted as (row, multiplicity) groups
  // — order-free, multiset-exact, compact.

  /** (pair id, (predicate, b-projection) per leg). b injects NULLs on
    * different conditions per side; lp1 is near-disjoint (empty
    * INTERSECT / one-sided EXCEPT edges); lp2 is maximally duplicated
    * (3-value b), stressing the ALL forms' multiplicity math.
    */
  private val setLegPairs: Seq[(String, (String, String), (String, String))] = Seq(
    ("lp0",
      ("l_quantity < 30",
        "CASE WHEN l_linenumber = 3 THEN NULL ELSE l_linenumber END"),
      ("l_quantity > 20",
        "CASE WHEN l_linenumber = 5 THEN NULL ELSE l_linenumber END")),
    ("lp1",
      ("l_quantity < 10", "l_linenumber"),
      ("l_quantity >= 45",
        "CASE WHEN l_returnflag = 'R' THEN NULL ELSE l_linenumber END")),
    ("lp2",
      ("l_tax > l_discount", "l_suppkey % 3"),
      ("l_orderkey % 2 = 0",
        "CASE WHEN l_suppkey % 7 = 0 THEN NULL ELSE l_suppkey % 3 END")))

  private val setOps: Seq[(String, String,
      (DataFrame, DataFrame) => DataFrame)] = Seq(
    ("union", "UNION", (a, b) => a.union(b).distinct()),
    ("unionall", "UNION ALL", (a, b) => a.union(b)),
    ("intersect", "INTERSECT", (a, b) => a.intersect(b)),
    ("intersectall", "INTERSECT ALL", (a, b) => a.intersectAll(b)),
    ("except", "EXCEPT", (a, b) => a.except(b)),
    ("exceptall", "EXCEPT ALL", (a, b) => a.exceptAll(b)))

  private val nullRules = Seq(("nf", "NULLS FIRST"), ("nl", "NULLS LAST"))

  private def rnSql(nrule: String): String =
    s"CAST(row_number() OVER (ORDER BY b $nrule, a) AS BIGINT)"

  def fuzzSetopGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    def leg(pred: String, bExpr: String) = li.where(pred)
      .selectExpr("l_returnflag AS a", s"CAST($bExpr AS BIGINT) AS b")
    val legs = for {
      (lp, (pa, ba), (pb, bb)) <- setLegPairs
      (opId, _, opFn) <- setOps
      (nid, nrule) <- nullRules
    } yield opFn(leg(pa, ba), leg(pb, bb))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("rn", expr(rnSql(nrule)))
      .select(lit(s"$opId-$lp-$nid").as("case_id"),
        col("a"), col("b"), col("n"), col("rn"))
    legs.reduce(_ unionByName _)
      .orderBy(col("case_id"), col("a"), col("b").asc_nulls_first)
  }

  private val fuzzSetopOracle: String = {
    val legs = for {
      (lp, (pa, ba), (pb, bb)) <- setLegPairs
      (opId, opSql, _) <- setOps
      (nid, nrule) <- nullRules
    } yield
      s"""SELECT '$opId-$lp-$nid' AS case_id, a, b, n, ${rnSql(nrule)} AS rn
         |FROM (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT l_returnflag AS a, CAST($ba AS BIGINT) AS b
         |    FROM lineitem WHERE $pa
         |    $opSql
         |    SELECT l_returnflag AS a, CAST($bb AS BIGINT) AS b
         |    FROM lineitem WHERE $pb
         |  ) GROUP BY a, b)""".stripMargin
    legs.mkString("", "\nUNION ALL\n",
      "\nORDER BY case_id, a, b NULLS FIRST")
  }

  // ---- TLP grid: ternary-logic partitioning (Rigger & Su, OSDI'20) --
  //
  // The four grids above are DIFFERENTIAL (Spark vs DuckDB); this one
  // is additionally SELF-CHECKING: for any predicate p, the table
  // partitions exactly into (p IS TRUE) ⊎ (p IS FALSE) ⊎ (p IS NULL),
  // so any aggregate over the whole must equal its recombination over
  // the three legs — and each leg takes a DIFFERENT optimized plan
  // (different pushed filters, different codegen'd null tests), which
  // is where 3-valued-logic optimizer bugs hide. lineitem has no
  // natural NULLs, so every predicate below injects them (nullif /
  // CASE) and the grid deliberately walks the 3VL edges: NULL AND
  // FALSE = FALSE, NULL OR TRUE = TRUE, NOT NULL = NULL, IN with a
  // NULL element, boolean = boolean. Each predicate is ONE SQL
  // fragment parsed by both engines (the window-grid trick), emitted
  // as 4 rows (whole/true/false/null legs × count + exact sum).
  // TlpSpec asserts the partition identity in-engine; the oracle gate
  // asserts both engines agree on every leg.

  private[graft] val tlpPreds: Seq[(String, String)] = Seq(
    ("t0", "nullif(l_quantity, 17) > 25"),
    ("t1", "nullif(l_returnflag, 'A') = 'R'"),
    ("t2", "nullif(l_discount, 0.04) BETWEEN 0.02 AND 0.06"),
    ("t3", "(nullif(l_quantity, 17) > 25) AND (l_tax > 0.03)"),
    ("t4", "(nullif(l_quantity, 17) > 25) OR (l_tax <= 0.03)"),
    ("t5", "NOT (nullif(l_quantity, 17) > 25)"),
    ("t6",
      "(CASE WHEN l_orderkey % 5 = 0 THEN NULL ELSE l_quantity END) > 30"),
    ("t7", "nullif(l_linenumber, 3) < nullif(l_quantity, 25)"),
    ("t8", "l_returnflag IN ('R', nullif('A', 'A'))"),
    ("t9",
      "(nullif(l_tax, 0.0) > 0.05) = (nullif(l_discount, 0.0) > 0.05)"))

  private val tlpLegs: Seq[(String, String => String)] = Seq(
    ("w", _ => "1=1"),
    ("t", p => s"($p) IS TRUE"),
    ("f", p => s"($p) IS FALSE"),
    ("n", p => s"($p) IS NULL"))

  /** One leg of one case, DataFrame face — the WHERE fragment is the
    * same text DuckDB parses.
    */
  private[graft] def tlpLeg(li: DataFrame, id: String, leg: String,
      cond: String): DataFrame =
    li.filter(expr(cond))
      .agg(count(lit(1)).cast("double").as("n"),
        round(Enrich.exactSum(col("l_extendedprice")), 4).as("s"))
      .select(lit(id).as("case_id"), lit(leg).as("leg"), col("n"),
        col("s"))

  def fuzzTlpGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    (for {
      (id, p) <- tlpPreds
      (leg, mk) <- tlpLegs
    } yield tlpLeg(li, id, leg, mk(p)))
      .reduce(_ unionByName _)
      .orderBy(col("case_id"), col("leg"))
  }

  private val fuzzTlpOracle: String =
    (for {
      (id, p) <- tlpPreds
      (leg, mk) <- tlpLegs
    } yield
      s"""SELECT '$id' AS case_id, '$leg' AS leg,
         |  CAST(count(*) AS DOUBLE) AS n,
         |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4)))
         |    AS DOUBLE), 4) AS s
         |FROM lineitem WHERE ${mk(p)}""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY case_id, leg")

  // ---- DV-mutation differential grid --------------------------------

  /** The sixth fuzz axis: the MUTABLE-table lifecycle. A fixed,
    * deterministic interleaving of delete → upsert → purge →
    * compactBlobs → delete → vacuum → upsert → zorder → small-file
    * pack → restore → shallow-clone (+ a clone-side delete proving
    * divergence both ways) → partition evolution → cross-generation
    * upsert → scoped migration → DSv2 MERGE → full migration →
    * RENAME COLUMN → upsert THROUGH the mapping → DROP COLUMN →
    * autoMerge-widening MERGE → restore ACROSS the rename → DROP +
    * re-ADD type-changed (the resurrection fence) → upsert through
    * the re-added column → rename of the re-added column (27 legs)
    * runs against a FRESH
    * deletion-vector table (rebuilt per invocation — the legs observe
    * intermediate states, so memoization would corrupt leg 0 on
    * re-execution), and after EVERY op a leg snapshot of the masked
    * read is taken. The DuckDB twin computes each leg's expected
    * state as pure SQL over the immutable events fact — expressible
    * because every op is a deterministic function of events, and
    * because the layer's pinned semantics (retroactive tombstones;
    * upsert re-inserts a deleted key's row; purge/compact/vacuum are
    * content-invariant) each reduce to a CASE/union. The whole grid
    * runs at BOTH partitionings (day, and day+region) against ONE
    * oracle cross-joined over the layout tag — layout must never
    * change content. A wrong mask merge, a purge double-count, a
    * vacuum over-delete, a resurrection, or a layout-dependent
    * difference each breaks exactly one (layout, leg) row's hash.
    */
  def fuzzDvGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{DeletionVectors => DV, TextOps}
    def h(tag: String, c: Column): Column =
      TextOps.h60(concat(lit(tag), c.cast("string")))
    val ev0 = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("region", (col("user_id") % 3).cast("string"))
    val sid = System.identityHashCode(spark)

    def runLayout(tag: String, partCols: Seq[String]): Seq[org.apache.spark.sql.Row] = {
      val root = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_fuzzdv_${tag}_${sid}_${math.abs(sfDir.hashCode)}"
      DV.init(spark, ev0, root, partCols)
      val out = Seq.newBuilder[org.apache.spark.sql.Row]
      def legOf(id: String, r: String, valueCol: String = "value"): Unit =
        out ++= DV.read(spark, r)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_users"),
            round(Enrich.exactSum(col(valueCol)), 4).as("value_sum"))
          .select(lit(tag).as("layout"), lit(id).as("leg_id"),
            col("event_type"), col("n_rows"), col("n_users"),
            col("value_sum"))
          .collect().toSeq
      def leg(id: String): Unit = legOf(id, root)
      leg("L0")
      DV.delete(spark, root, "user_id",
        ev0.select(col("user_id")).distinct()
          .filter(h("fz1_", col("user_id")) % 5 === 0))
      leg("L1")
      val u1 = ev0.filter(h("fz2_", col("event_id")) % 6 === 0)
        .withColumn("value", col("value") + 100)
      val i1 = ev0.filter(h("fz3_", col("event_id")) % 35 === 0)
        .withColumn("event_id", col("event_id") + lit(5000000000L))
        .withColumn("user_id", col("user_id") + lit(30000000L))
      DV.upsert(spark, root, partCols, "event_id",
        u1.unionByName(i1), None)
      leg("L2")
      DV.purge(spark, root, partCols, 0.2, () => ())
      leg("L3")
      DV.compactBlobs(spark, root)
      leg("L4")
      DV.delete(spark, root, "user_id",
        DV.read(spark, root).select(col("user_id")).distinct()
          .filter(h("fz4_", col("user_id")) % 7 === 0))
      leg("L5")
      DV.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
      leg("L6")
      DV.upsert(spark, root, partCols, "event_id",
        ev0.filter(h("fz5_", col("event_id")) % 8 === 0)
          .withColumn("value", col("value") - 50), None)
      leg("L7")
      // ---- round-11-late verbs, composed onto the same lifecycle ----
      // zorder + pack are CONTENT-INVARIANT layout rewrites (L8, L9);
      // restore to the post-L7 commit un-does exactly those two file
      // flips (L10 — same content again, exercising the forward-only
      // flip + the retroactive mask on the restored set); a shallow
      // clone serves the same state (L11), diverges under its own
      // delete (L12) and leaves the source untouched (L13).
      val v7 = graft.operators.Snapshots.latestVersion(
        spark, DV.manifestTable(root)).get
      DV.zorder(spark, root, Seq("user_id"))
      leg("L8")
      DV.compactSmallFiles(spark, root)
      leg("L9")
      DV.restore(spark, root, v7)
      leg("L10")
      val cloneRoot = root + "_clone"
      new org.apache.hadoop.fs.Path(cloneRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(cloneRoot), true): Unit
      DV.shallowClone(spark, root, cloneRoot): Unit
      legOf("L11", cloneRoot)
      DV.delete(spark, cloneRoot, "user_id",
        DV.read(spark, cloneRoot).select(col("user_id")).distinct()
          .filter(h("fz6_", col("user_id")) % 6 === 0))
      legOf("L12", cloneRoot)
      leg("L13")
      // ---- round-12 verbs, composed onto the same lifecycle ----
      // L14: partition evolution — ONE metadata flip, content
      // invariant; the table now serves MIXED generations
      DV.setPartitioning(spark, root, Seq("event_type"))
      leg("L14")
      // L15: keyed upsert ACROSS generations (old-layout files live)
      DV.upsert(spark, root, Seq("event_type"), "event_id",
        ev0.filter(h("fz7_", col("event_id")) % 9 === 0)
          .withColumn("value", col("value") + 25), None)
      leg("L15")
      // L16: SCOPED migration — only matching old-generation files
      // rewrite into the new layout; masks fold in; content invariant
      val daysAll = ev0.select(col("day")).distinct()
        .orderBy(col("day")).collect().map(_.getString(0))
      DV.migrateLayout(spark, root,
        Some(s"day >= '${daysAll(daysAll.length / 2)}'")): Unit
      leg("L16")
      // L17: DSv2 MERGE (Spark's own row-level rewrite driving the
      // delta writer) onto the mid-evolution table
      graft.plans.GraftPlans.ensureDvCatalog(spark)
      ev0.filter(h("fz8_", col("event_id")) % 12 === 0)
        .select(col("event_id")).localCheckpoint()
        .createOrReplaceTempView("fuzz_dv_merge_src")
      spark.sql(s"MERGE INTO graftdv.`$root` t " +
        "USING fuzz_dv_merge_src s ON t.event_id = s.event_id " +
        "WHEN MATCHED THEN UPDATE SET value = t.value + 10").collect()
      leg("L17")
      // L18: FULL migration converges the table (flag clears, lazy
      // path restored) — invariant over the merged state
      DV.migrateLayout(spark, root, None): Unit
      leg("L18")
      // ---- round-13 verbs, composed onto the same lifecycle ----
      // L19: RENAME COLUMN value->amount — one metadata flip, frozen
      // physical names, content invariant (read through the mapping)
      val v18 = graft.operators.Snapshots.latestVersion(
        spark, DV.manifestTable(root)).get
      DV.alterRenameColumn(spark, root, "value", "amount"): Unit
      legOf("L19", root, "amount")
      // L20: keyed upsert THROUGH the mapping — images arrive under
      // the NEW name, staged files keep the frozen physical layout
      DV.upsert(spark, root, Seq("event_type"), "event_id",
        ev0.filter(h("fz9_", col("event_id")) % 11 === 0)
          .withColumn("value", col("value") + 5)
          .withColumnRenamed("value", "amount"), None)
      legOf("L20", root, "amount")
      // L21: DROP COLUMN props — metadata-only, invariant for these
      // measures (props never aggregated), physical bytes stay
      DV.alterDropColumn(spark, root, "props"): Unit
      legOf("L21", root, "amount")
      // L22: autoMerge-widening DSv2 MERGE — the source carries a NEW
      // column (note), the target widens in one flip, the matched
      // UPDATE lands +7 through the renamed column
      ev0.filter(h("fza_", col("event_id")) % 13 === 0)
        .select(col("event_id"), lit("n").as("note")).localCheckpoint()
        .createOrReplaceTempView("fuzz_dv_evo_src")
      spark.conf.set("spark.graft.dv.schema.autoMerge", "true")
      try graft.GraftSql.sql(spark, s"MERGE INTO graftdv.`$root` t " +
        "USING fuzz_dv_evo_src s ON t.event_id = s.event_id " +
        "WHEN MATCHED THEN UPDATE SET amount = t.amount + 7").collect()
      finally spark.conf.unset("spark.graft.dv.schema.autoMerge")
      legOf("L22", root, "amount")
      // L23: RESTORE ACROSS the rename — schema reverts to `value`,
      // the retroactive-tombstone rule holds: the L20 upsert's
      // tombstones mask its keys' pre-upsert images even at v18
      DV.restore(spark, root, v18): Unit
      legOf("L23", root, "value")
      // ---- round-14 legs: DROP + re-ADD (type-changed) ----
      // L24: DROP value, then re-ADD `value` as INT — the
      // resurrection guard: the re-added column gets a FRESH physical
      // name (droppedPhys fence), so every pre-existing row reads
      // NULL; any resurrection of the old double bytes breaks this
      // leg's hash (value_sum must be NULL per type)
      DV.alterDropColumn(spark, root, "value"): Unit
      DV.alterAddColumns(spark, root,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.IntegerType)))): Unit
      leg("L24")
      // L25: keyed upsert THROUGH the re-added (type-changed) column
      // — u7 keys carry 77; everything else stays NULL
      DV.upsert(spark, root, Seq("event_type"), "event_id",
        ev0.filter(h("fzb_", col("event_id")) % 10 === 0)
          .withColumn("value", lit(77)), None)
      leg("L25")
      // L26: RENAME the re-added column — the mapping must bind the
      // FRESH physical name, never the retired one
      DV.alterRenameColumn(spark, root, "value", "val2"): Unit
      legOf("L26", root, "val2")
      out.result()
    }

    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("layout", StringType), StructField("leg_id", StringType),
      StructField("event_type", StringType), StructField("n_rows", LongType),
      StructField("n_users", LongType), StructField("value_sum", DoubleType)))
    val rows = runLayout("day", Seq("day")) ++
      runLayout("day_region", Seq("day", "region"))
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema)
      .orderBy(col("layout"), col("leg_id"), col("event_type"))
  }

  private val fuzzDvOracle: String = {
    import graft.operators.TextOps
    def h(tag: String, e: String) = TextOps.h60Sql(s"('$tag' || CAST($e AS VARCHAR))")
    val d1 = s"${h("fz1_", "user_id")} % 5 = 0"
    val u1 = s"${h("fz2_", "event_id")} % 6 = 0"
    val i1 = s"${h("fz3_", "event_id")} % 35 = 0"
    val d2 = s"${h("fz4_", "user_id")} % 7 = 0"
    val d2s = s"${h("fz4_", "(user_id + 30000000)")} % 7 = 0"
    val u2 = s"${h("fz5_", "event_id")} % 8 = 0"
    val s0 = "SELECT event_type, user_id, value FROM events"
    val s1 = s"SELECT event_type, user_id, value FROM events WHERE NOT ($d1)"
    // leg-2 state: survivors of d1 not updated by u1, u1's new images
    // (value+100 — appended AFTER d1, so a deleted user's updated row
    // is resurrected), and i1's shifted inserts
    val s2 =
      s"""SELECT event_type, user_id, value FROM events
         |  WHERE NOT ($d1) AND NOT ($u1)
         |UNION ALL SELECT event_type, user_id, value + 100 FROM events
         |  WHERE $u1
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1""".stripMargin
    // leg-5 state: s2 minus the second delete's victims (evaluated on
    // each branch's EFFECTIVE user id — the inserts carry shifted ids)
    val s5 =
      s"""SELECT event_type, user_id, value FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id, value + 100 FROM events
         |  WHERE $u1 AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    // leg-7 state: the second upsert's images (value-50) win
    // unconditionally for u2 keys (upsert re-inserts deleted keys)
    val s7 =
      s"""SELECT event_type, user_id, value FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id, value + 100 FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id, value - 50 FROM events
         |  WHERE $u2
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    // round-11-late legs: zorder (L8), pack (L9), restore-to-L7 (L10),
    // clone (L11), and the clone's source after divergence (L13) are
    // all the L7 state; the clone after its own delete (L12) is s7
    // minus the third victim set, evaluated per-branch on the
    // EFFECTIVE user id (the inserts carry shifted ids)
    val d3 = s"${h("fz6_", "user_id")} % 6 = 0"
    val d3s = s"${h("fz6_", "(user_id + 30000000)")} % 6 = 0"
    val s12 =
      s"""SELECT event_type, user_id, value FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($d2)
         |    AND NOT ($d3)
         |UNION ALL SELECT event_type, user_id, value + 100 FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($d2) AND NOT ($d3)
         |UNION ALL SELECT event_type, user_id, value - 50 FROM events
         |  WHERE $u2 AND NOT ($d3)
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s) AND NOT ($d3s)""".stripMargin
    // round-12 legs: evolution (L14), scoped migrate (L16) and full
    // migrate (L18) are content-invariant; the cross-generation
    // upsert (L15) applies value+25 unconditionally to its keys (the
    // re-insert rule); the DSv2 MERGE (L17) adds +10 to every LIVE
    // original-id row whose key matched (shifted inserts untouched —
    // the source carries original ids only)
    val u3 = s"${h("fz7_", "event_id")} % 9 = 0"
    val u4 = s"${h("fz8_", "event_id")} % 12 = 0"
    val s15 =
      s"""SELECT event_type, user_id, value FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($u3)
         |    AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id, value + 100 FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($u3) AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id, value - 50 FROM events
         |  WHERE $u2 AND NOT ($u3)
         |UNION ALL SELECT event_type, user_id, value + 25 FROM events
         |  WHERE $u3
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    def plus10(expr: String) =
      s"$expr + (CASE WHEN $u4 THEN 10 ELSE 0 END)"
    val s17 =
      s"""SELECT event_type, user_id, ${plus10("value")} AS value
         |  FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($u3)
         |    AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value + 100")} AS value FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($u3) AND NOT ($d2)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value - 50")} AS value FROM events
         |  WHERE $u2 AND NOT ($u3)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value + 25")} AS value FROM events WHERE $u3
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    // round-13 legs: rename (L19) and drop (L21) are content-
    // invariant; the through-the-mapping upsert (L20) applies
    // value+5 unconditionally to its keys (the re-insert rule — and
    // the fresh image RESETS L17's +10 for those keys); the
    // autoMerge MERGE (L22) adds +7 to every LIVE original-id
    // matched row; restore-to-v18 (L23) reverts content to s17 MINUS
    // the rows the L20 upsert AND the L22 merge tombstoned
    // (retroactive tombstones: both verbs are delete+insert, and
    // their keys' pre-write images stay masked at every version;
    // u5-then-u6 keys' L22 tombstones land on L20-appended files
    // invisible at v18, so only u6-not-u5 thins the v18 set further)
    val u5 = s"${h("fz9_", "event_id")} % 11 = 0"
    val u6 = s"${h("fza_", "event_id")} % 13 = 0"
    val s20 =
      s"""SELECT event_type, user_id, ${plus10("value")} AS value
         |  FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($u3)
         |    AND NOT ($d2) AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value + 100")} AS value FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($u3) AND NOT ($d2)
         |    AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value - 50")} AS value FROM events
         |  WHERE $u2 AND NOT ($u3) AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value + 25")} AS value FROM events
         |  WHERE $u3 AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id, value + 5 AS value
         |  FROM events WHERE $u5
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    def plus7(expr: String) =
      s"($expr) + (CASE WHEN $u6 THEN 7 ELSE 0 END)"
    val s22 =
      s"""SELECT event_type, user_id, ${plus7(plus10("value"))} AS value
         |  FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($u3)
         |    AND NOT ($d2) AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus7(plus10("value + 100"))} AS value FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($u3) AND NOT ($d2)
         |    AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus7(plus10("value - 50"))} AS value FROM events
         |  WHERE $u2 AND NOT ($u3) AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus7(plus10("value + 25"))} AS value FROM events
         |  WHERE $u3 AND NOT ($u5)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus7("value + 5")} AS value FROM events WHERE $u5
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    val s23 =
      s"""SELECT event_type, user_id, ${plus10("value")} AS value
         |  FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($u3)
         |    AND NOT ($d2) AND NOT ($u5) AND NOT ($u6)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value + 100")} AS value FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($u3) AND NOT ($d2)
         |    AND NOT ($u5) AND NOT ($u6)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value - 50")} AS value FROM events
         |  WHERE $u2 AND NOT ($u3) AND NOT ($u5) AND NOT ($u6)
         |UNION ALL SELECT event_type, user_id,
         |  ${plus10("value + 25")} AS value FROM events
         |  WHERE $u3 AND NOT ($u5) AND NOT ($u6)
         |UNION ALL SELECT event_type, user_id + 30000000, value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    // round-14 legs: DROP + re-ADD value (type-changed to INT) reads
    // NULL everywhere (L24 — the droppedPhys resurrection fence);
    // the through-the-re-added-column upsert (L25) gives u7 keys 77
    // unconditionally (re-insert rule), everything else stays NULL
    // (shifted i1 inserts carry different event_ids — never matched);
    // the rename of the re-added column (L26) is content-invariant
    val u7 = s"${h("fzb_", "event_id")} % 10 = 0"
    val s24 =
      s"""SELECT event_type, user_id, CAST(NULL AS DOUBLE) AS value
         |FROM ($s23)""".stripMargin
    val s25 =
      s"""SELECT event_type, user_id, CAST(NULL AS DOUBLE) AS value
         |  FROM events
         |  WHERE NOT ($d1) AND NOT ($u1) AND NOT ($u2) AND NOT ($u3)
         |    AND NOT ($d2) AND NOT ($u5) AND NOT ($u6) AND NOT ($u7)
         |UNION ALL SELECT event_type, user_id,
         |  CAST(NULL AS DOUBLE) AS value FROM events
         |  WHERE $u1 AND NOT ($u2) AND NOT ($u3) AND NOT ($d2)
         |    AND NOT ($u5) AND NOT ($u6) AND NOT ($u7)
         |UNION ALL SELECT event_type, user_id,
         |  CAST(NULL AS DOUBLE) AS value FROM events
         |  WHERE $u2 AND NOT ($u3) AND NOT ($u5) AND NOT ($u6)
         |    AND NOT ($u7)
         |UNION ALL SELECT event_type, user_id,
         |  CAST(NULL AS DOUBLE) AS value FROM events
         |  WHERE $u3 AND NOT ($u5) AND NOT ($u6) AND NOT ($u7)
         |UNION ALL SELECT event_type, user_id, 77 AS value
         |  FROM events WHERE $u7
         |UNION ALL SELECT event_type, user_id + 30000000,
         |  CAST(NULL AS DOUBLE) AS value
         |  FROM events WHERE $i1 AND NOT ($d2s)""".stripMargin
    val legStates = Seq(
      "L0" -> s0, "L1" -> s1, "L2" -> s2, "L3" -> s2, "L4" -> s2,
      "L5" -> s5, "L6" -> s5, "L7" -> s7, "L8" -> s7, "L9" -> s7,
      "L10" -> s7, "L11" -> s7, "L12" -> s12, "L13" -> s7,
      "L14" -> s7, "L15" -> s15, "L16" -> s15, "L17" -> s17,
      "L18" -> s17, "L19" -> s17, "L20" -> s20, "L21" -> s20,
      "L22" -> s22, "L23" -> s23, "L24" -> s24, "L25" -> s25,
      "L26" -> s25)
    val legs = legStates.map { case (id, st) =>
      s"SELECT '$id' AS leg_id, event_type, user_id, value FROM ($st)"
    }.mkString("\nUNION ALL ")
    s"""WITH legs AS (
       |$legs),
       |layouts AS (SELECT 'day' AS layout UNION ALL
       |            SELECT 'day_region' AS layout)
       |SELECT layout, leg_id, event_type,
       |  count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
       |  round(CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE), 4)
       |    AS value_sum
       |FROM legs CROSS JOIN layouts
       |GROUP BY layout, leg_id, event_type
       |ORDER BY layout, leg_id, event_type""".stripMargin
  }

  def queries: Seq[Q] = Seq(
    Q("fuzz_relational_grid", Some(fuzzOracle), fuzzRelationalGrid),
    Q("fuzz_join_grid", Some(fuzzJoinOracle), fuzzJoinGrid),
    Q("fuzz_window_grid", Some(fuzzWindowOracle), fuzzWindowGrid),
    Q("fuzz_setop_grid", Some(fuzzSetopOracle), fuzzSetopGrid),
    Q("fuzz_tlp_grid", Some(fuzzTlpOracle), fuzzTlpGrid),
    Q("fuzz_dv_grid", Some(fuzzDvOracle), fuzzDvGrid))
}
