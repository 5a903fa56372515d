package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dsl._
import graft.tables.Tables

/** Scan / filter / project / join / top-k core (SURVEY.md §2.2 q01–q08, q14).
  *
  * Generalizes the reference's read path — `SELECT … WHERE user_id = ?`
  * point queries (main.go:214, main.go:241) — into the full relational join
  * surface. All plans are declarative DataFrame chains: Catalyst pushes
  * filters/projections into the parquet scan, AQE picks join strategies at
  * runtime, and the dimension joins are explicitly broadcast (q04) so no
  * shuffle of the fact side ever happens for dim lookups — the shape that
  * survives a 1000-executor 100 TB scale-up.
  */
object Relational {

  /** q01: TPC-H Q6-shaped scan. Filter + project + computed measure; the
    * predicate and the 5-column read schema are pushed to parquet. */
  def q01(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"),
              (col("l_extendedprice") * col("l_discount")).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** q03: shuffle join orders ⋈ customer, revenue per market segment.
    * Both sides shuffle on custkey; partial aggregation runs map-side. */
  def q03(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))

  /** q04: dim-chain broadcast join customer ⋈ nation ⋈ region. The dims are
    * tiny at any scale factor — broadcast them so the customer side never
    * shuffles for the lookup. */
  def q04(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("r_name"), col("n_name"))

  /** q05: left outer join with COUNT(col) NULL semantics — customers with no
    * orders keep a 0 count (R10's NULL handling, main.go:252,264-266). */
  def q05(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
      .limit(200)

  /** q06: left-semi join — customers with at least one order. */
  def q06(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"))
    Tables.customer(spark, sfDir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** q07: left-anti join — customers with no orders. */
  def q07(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"))
    Tables.customer(spark, sfDir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** q08: equi key + theta residual — same nation, supplier balance below
    * customer balance. Planned as an equi join on nationkey with the
    * inequality as residual, NOT a nested-loop cartesian. */
  def q08(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    s.join(c, s("s_nationkey") === c("c_nationkey") && s("s_acctbal") < c("c_acctbal"))
      .select(col("s_suppkey"), col("c_custkey"), col("s_acctbal"), col("c_acctbal"))
      .orderBy(col("s_suppkey"), col("c_custkey"))
  }

  /** q14: global top-k — planned as TakeOrderedAndProject (per-partition
    * heap + driver merge), never a full sort. */
  def q14(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** q115: FULL OUTER join — the one join type the zoo (q03–q08) lacked:
    * reconciliation of two derived per-user ledgers (click counts vs
    * purchase counts/value), keeping users present on EITHER side — the
    * audit every CQRS projection pair needs ("who clicked but never
    * bought, who bought without a tracked click, do the populations
    * tile?"). `presence` tags each row from pre-coalesce nullity;
    * `purchase_value` stays NULL (not 0) for click-only users — R10's
    * NULL-for-absent discipline (main.go:252,264-266), while counts
    * coalesce to 0 (a count of nothing IS 0).
    *
    * Scale posture: both inputs are map-side-combined aggregates of
    * disjoint filtered slices of ONE scan family, so the full-outer is a
    * user_id-keyed shuffle join of two already-reduced frames (user
    * cardinality, not event cardinality) — full outer cannot broadcast
    * (both sides must surface unmatched rows), and keying on the
    * aggregate output is what keeps the shuffled volume minimal. */
  def q115(spark: SparkSession, sfDir: String): DataFrame =
    ledgerOf(Tables.events(spark, sfDir))

  /** q115 core on a plain events DataFrame (user_id, event_type, value)
    * so the streaming twin (s26) and planted-row specs share the one
    * definition. */
  private[graft] def ledgerOf(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("purchase_value"))
    reconcile(clicks, purchases)
  }

  /** The q115 full-outer assembly over pre-aggregated per-user ledgers —
    * the join + presence/NULL discipline factored out so s26's
    * store-derived frames flow through the SAME definition (null users
    * intentionally surface one row PER SIDE: the equi key never matches
    * NULL, exactly the batch semantics). */
  private[graft] def reconcile(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("n_clicks").isNull, "purchase_only")
          .when(col("n_purchases").isNull, "click_only")
          .otherwise("both").as("presence"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        col("purchase_value"))
      .orderBy(col("user_id"))

  /** q116: TPC-H Q3-shaped shipping priority — the canonical three-way
    * fact⋈fact⋈dim analytics join the zoo's pairwise queries don't
    * exercise: BUILDING-segment customers' orders placed before the
    * cutoff with lineitems shipped after it, revenue
    * Σ extprice·(1−discount) per order, top 10 orders by revenue. The
    * revenue product follows q02's decimal discipline (raw columns cast
    * to DECIMAL before multiplying — a double product would land on
    * .xxxx5 ties where the engines' ROUND disagree), and the final sort
    * key is (revenue DESC, o_orderkey): the decimal-exact revenue makes
    * the tie-break deterministic cross-engine.
    *
    * Scale posture: the segment-filtered customer frame broadcasts into
    * orders (dim-sized after its filter), the date filters push to both
    * parquet scans, and the one real shuffle is lineitem joining the
    * filtered orders on orderkey followed by a map-side-partial hash
    * aggregate; the top-10 is a TakeOrdered, never a full sort. This is
    * the join-ordering shape (selective dim → fact → bigger fact) a
    * 100 TB star schema lives on. */
  def q116(spark: SparkSession, sfDir: String): DataFrame =
    q116On(Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir))

  /** q116 core on supplied base tables — the seam LayoutSpec drives with
    * BUCKETED catalog tables to prove the orderkey join and the
    * orderkey-prefixed aggregate run Exchange-free on the co-located
    * layout (r11 verdict item 6), same rows as the path-read form. */
  private[graft] def q116On(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val cutoff = lit("1998-07-01").cast("timestamp")
    val one = lit(1).cast("decimal(3,2)")
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (one - col("l_discount").cast("decimal(4,2)"))
    val c = customer
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = orders
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = lineitem
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), rev.as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q117: TPC-H Q5-shaped local supplier volume — the SNOWFLAKE join
    * (six tables) next to q116's star: ASIA-region nations' revenue from
    * orders in one year where the supplying supplier and the ordering
    * customer sit in the SAME nation. The same-nation correlation
    * (c_nationkey = s_nationkey) is the shape that separates snowflake
    * plans from star plans: it rides the lineitem⋈supplier and
    * orders⋈customer joins as an extra equi-key, never as a standalone
    * theta join. Revenue follows q02's decimal discipline; output ordered
    * (revenue DESC, n_name) with the decimal-exact revenue making the
    * sort deterministic cross-engine.
    *
    * Scale posture: region/nation/supplier broadcast (dims at any scale
    * factor — supplier here is a 10-row dim; at a true 100 TB SF it
    * joins keyed like the facts and nothing else changes); the fact
    * chain shuffles lineitem once on orderkey against the filtered
    * orders⋈customer side, whose own join keys on custkey — two fact
    * shuffles total, date filter pushed to the orders scan, the
    * same-nation predicate evaluated inside the join stage. */
  def q117(spark: SparkSession, sfDir: String): DataFrame = {
    val one = lit(1).cast("decimal(3,2)")
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (one - col("l_discount").cast("decimal(4,2)"))
    val asiaNations = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val oc = o.join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val ls = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
    ls.join(oc, col("l_orderkey") === col("o_orderkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q118: TPC-H Q7-shaped volume shipping — the bidirectional
    * nation-pair trade report next to q117's snowflake: revenue shipped
    * between NATION_12 and NATION_10 in either direction, by supplier
    * nation, customer nation and ship year. The disjunctive pair
    * predicate is the shape worth exercising: naively it sits above the
    * five-way join, but each disjunct constrains BOTH nation columns to
    * the same two-element set, so the filter decomposes into two
    * per-dimension IN-filters (pushed to the supplier and customer
    * scans) plus the cross-pair residual (supp ≠ cust) evaluated after
    * the join — the engine never materializes trade between nations
    * outside the pair. Revenue follows q02's decimal discipline; the
    * (supp_nation, cust_nation, l_year) sort is wholly key-determined.
    *
    * Scale posture: nation broadcasts into supplier and customer; the
    * two-nation filters cut both before any fact touches them; supplier
    * broadcasts into lineitem (dim-sized — at a true 100 TB SF it joins
    * keyed like the facts); the fact chain is q117's two shuffles
    * (orders⋈customer on custkey, lineitem⋈that on orderkey) with the
    * two-year ship-date filter pushed to the lineitem scan and the
    * output a ≤ 2·2·2-group map-side-combined aggregate. */
  def q118(spark: SparkSession, sfDir: String): DataFrame = {
    val pair = Seq("NATION_12", "NATION_10")
    val one = lit(1).cast("decimal(3,2)")
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (one - col("l_discount").cast("decimal(4,2)"))
    val n = Tables.nation(spark, sfDir)
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("supp_nation").isin(pair: _*))
      .select(col("s_suppkey"), col("supp_nation"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n.select(col("n_nationkey"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("cust_nation").isin(pair: _*))
      .select(col("c_custkey"), col("cust_nation"))
    val oc = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"), rev.as("rev"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(oc, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** q119: TPC-H Q10-shaped returned-item report — the quarter's top 20
    * customers by revenue lost to returns (l_returnflag = 'R'), the
    * churn-triage list a BNPL risk desk works through. Joins the return
    * lineitems to the quarter's orders, attributes revenue to the
    * customer, and carries the dim columns (name, balance, nation) the
    * desk needs. Revenue follows q02's decimal discipline; the sort key
    * (revenue DESC, c_custkey) is deterministic cross-engine.
    *
    * Scale posture: both selective filters (quarter, return flag) push
    * to their parquet scans; the real shuffle is lineitem ⋈ filtered
    * orders on orderkey, then the aggregate keys on custkey — at which
    * point the frame is customer-cardinality and the customer/nation dim
    * attachment rides the same custkey shuffle (nation broadcasts). The
    * top-20 is a TakeOrdered, never a full sort. */
  def q119(spark: SparkSession, sfDir: String): DataFrame = {
    val one = lit(1).cast("decimal(3,2)")
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (one - col("l_discount").cast("decimal(4,2)"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), rev.as("rev"))
    val perCust = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
    perCust.join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q120: TPC-H Q18-shaped large-volume customers — orders whose total
    * quantity crosses a threshold, with the customer attached: the
    * "whale orders" screen. The interesting plan shape is aggregate-
    * then-join: the HAVING subquery ("orderkey IN (SELECT … HAVING
    * SUM(qty) > T)") never runs as a subquery — the per-order aggregate
    * IS the driving table, already carrying total_qty, so the filtered
    * survivors join orders and customer directly (no second pass over
    * lineitem, no IN-list materialization). Quantity sums are exact
    * decimal (dsum); (o_totalprice DESC, o_orderkey) is deterministic.
    *
    * Scale posture: one lineitem shuffle on orderkey feeds a map-side-
    * combined aggregate; the threshold filter cuts it to a sliver whose
    * join back to orders AQE converts to broadcast at runtime (the
    * aggregate's runtime stats, not the scan estimate, make that call —
    * exactly what AQE is for); the customer attachment keys on custkey
    * at order-survivor cardinality. */
  def q120(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 200.0)
    big.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q121: TPC-H Q16-shaped supplier diversity — per (p_brand, p_size)
    * in the screened size set, how many DISTINCT suppliers have shipped
    * the part, excluding low-balance suppliers: the sourcing-risk screen
    * ("which part families depend on few qualified suppliers?"). The
    * NOT-IN exclusion is the shape worth exercising: over a non-nullable
    * key it IS a left-anti join (the null-poisoned NOT IN that breaks
    * anti-join rewrites needs a nullable subquery column — s_suppkey is
    * not), so the plan is a broadcast anti against the dim-sized
    * exclusion list, never a per-row subquery.
    *
    * Scale posture: the size screen pushes to the part scan and the
    * screened part frame broadcasts into lineitem; the exclusion list is
    * a filtered dim broadcast anti-join; COUNT(DISTINCT supplier) runs
    * as Spark's two-phase expand (partial dedup of (brand, size, supp)
    * map-side, then the count) — one shuffle at distinct-triple
    * cardinality, bounded by |parts|·|suppliers|, not |lineitem|. */
  def q121(spark: SparkSession, sfDir: String): DataFrame = {
    val screened = Tables.part(spark, sfDir)
      .filter(col("p_size").isin(1, 4, 7))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val excluded = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 2000.0)
      .select(col("s_suppkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(screened), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** q122: TPC-H Q11-shaped value concentration — brands whose share of
    * total revenue exceeds the 4.1% concentration threshold: the
    * portfolio screen behind every "top sellers" dashboard, and the
    * GROUP-vs-GLOBAL HAVING shape (a group survives based on an
    * aggregate of the WHOLE relation, not its own rows). The global
    * total is a single-row aggregate broadcast onto the brand frame —
    * never a rescan per group.
    *
    * Determinism: both the brand revenue and the grand total are exact
    * decimal sums cast to double at the end (the total is NOT a
    * double-sum of the 25 brand doubles — that would be order-sensitive
    * in both engines); `share` is then one IEEE division of identical
    * operands, and the threshold compare is a direct comparison of that
    * correctly-rounded quotient against the 0.041 literal, so the
    * surviving set is identical cross-engine.
    *
    * Scale posture: part broadcasts into lineitem; ONE fact shuffle
    * feeds both the per-brand aggregate and (via a second map-side-
    * combined pass over the same scan) the single-row total; the
    * crossJoin is the allowlisted single-row-broadcast BNLJ (the
    * q58/q103 shape); everything after is brand-cardinality. */
  def q122(spark: SparkSession, sfDir: String): DataFrame = {
    val one = lit(1).cast("decimal(3,2)")
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (one - col("l_discount").cast("decimal(4,2)"))
    val branded = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), rev.as("rev"))
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    val perBrand = branded.groupBy(col("p_brand"))
      .agg(sum(col("rev")).as("drev"))
    val total = branded.agg(sum(col("rev")).cast("double").as("total_revenue"))
    perBrand.crossJoin(broadcast(total))
      .select(col("p_brand"), col("drev").cast("double").as("revenue"),
        (col("drev").cast("double") / col("total_revenue")).as("share"))
      .filter(col("share") > 0.041)
      .orderBy(col("revenue").desc, col("p_brand"))
  }

  /** q123: TPC-H Q15-shaped top supplier — the supplier(s) whose quarter
    * revenue EQUALS the maximum: the max-equality join, the argmax shape
    * that keeps ties (a LIMIT 1 would drop co-leaders; q61's per-group
    * struct-min is the grouped cousin — this is the global form). The
    * equality test is safe cross-engine because the revenue is an exact
    * decimal sum (double equality on computed floats would be the q55
    * lesson all over again) — the max-row join compares decimals and
    * only the output casts to double.
    *
    * Scale posture: one lineitem shuffle (quarter filter pushed to the
    * scan) to supplier-cardinality revenue; the max is a single-row
    * aggregate broadcast back (allowlisted BNLJ); the supplier dim
    * broadcasts into the ≤tie-width survivor frame. */
  def q123(spark: SparkSession, sfDir: String): DataFrame = {
    val one = lit(1).cast("decimal(3,2)")
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (one - col("l_discount").cast("decimal(4,2)"))
    // feeds both the max aggregate and the equality probe (r9 pinning
    // discipline: one evaluation for both join branches)
    val srev = graft.ops.Dsl.pin(Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-04-01").cast("timestamp"))
      .select(col("l_suppkey"), rev.as("rev"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev")).as("drev")))
    val mx = srev.agg(max(col("drev")).as("max_drev"))
    srev.crossJoin(broadcast(mx))
      .filter(col("drev") === col("max_drev"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("drev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** q124: TPC-H Q22-shaped dormant capital — per nation, the customers
    * holding an above-average balance who placed NO order after the
    * cutoff: the "money sitting idle" screen, and the plan shape that
    * composes a GLOBAL scalar threshold (q122's single-row broadcast)
    * with an anti-join (q07's) under a grouped rollup. The average is
    * dsum/count (exact decimal sum, one IEEE division), so the threshold
    * compare against the raw balance column is identical cross-engine.
    *
    * Scale posture: the scalar average is a single-row aggregate
    * broadcast onto the customer scan (allowlisted BNLJ); the NOT-EXISTS
    * is a left-anti keyed on custkey with the cutoff filter pushed to
    * the orders scan (the anti's build side is only the RECENT orders,
    * not the order history); nation broadcasts; the per-nation rollup is
    * a map-side-combined aggregate at nation cardinality. */
  def q124(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_dormant"), dsum(col("c_acctbal")).as("total_balance"))
      .orderBy(col("n_name"))
  }

  /** q46: correlated scalar subqueries — orders priced above their
    * customer's average. Written in SQL so Catalyst's decorrelation
    * (RewriteCorrelatedScalarSubquery) turns both subqueries into one
    * aggregated self-join — no per-row re-execution. The comparison is
    * price × count > sum in DECIMAL: exact in both engines, where a
    * double AVG would be sensitive to partial-aggregation order. */
  def q46(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_q46")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_q46 o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM orders_q46 o2 WHERE o2.o_custkey = o.o_custkey)
        |    > (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
        |       FROM orders_q46 o3 WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Shared decimal revenue term: extprice·(1−discount) with raw columns
    * cast to DECIMAL before the product (q02's discipline — a double
    * product lands on .xxxx5 ties where the engines' rounding disagrees). */
  private def revTerm: Column = {
    val one = lit(1).cast("decimal(3,2)")
    col("l_extendedprice").cast("decimal(12,2)") *
      (one - col("l_discount").cast("decimal(4,2)"))
  }

  /** q125: TPC-H Q4-shaped order-priority check — orders placed in
    * 1997Q1 that had at least one LATE lineitem (shipped more than 60
    * days after the order date — the testdata schema carries no
    * commit/receipt dates, so lateness is defined against o_orderdate),
    * counted per priority class. The EXISTS is a LEFT SEMI join: the
    * non-equi lateness predicate rides the orderkey equi-join, and each
    * qualifying order counts ONCE however many late lines it has —
    * semantics a plain inner join + distinct would need an extra
    * shuffle to recover.
    *
    * Scale posture: the quarter filter pushes to the orders scan and
    * shrinks the build side to one quarter before the semi join;
    * lineitem streams through the semi probe without materializing
    * matches; the priority aggregate runs on order-cardinality rows.
    * Counts are exact integers — the priority sort is deterministic. */
  def q125(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1997-04-01").cast("timestamp")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** q126: TPC-H Q8-shaped national market share — of the STANDARD-type
    * revenue sold into EUROPE-customer orders, the fraction supplied by
    * NATION_7 suppliers, per order year. The share is a conditional
    * decimal sum over the SAME rows as the denominator (one fact pass,
    * not two queries), and the division is ONE IEEE op over two
    * decimal-exact sums cast to double — identical operands, identical
    * quotient cross-engine (the q122 discipline). A year with no
    * NATION_7 revenue reports share 0 (COALESCE, not NULL — the
    * null-skipping conditional SUM is mirrored in the oracle).
    *
    * Scale posture: part (type-filtered), supplier, nation and region
    * broadcast; customer joins orders on custkey, lineitem joins the
    * result on orderkey — the q117 snowflake shape, two fact shuffles,
    * with the share arithmetic living entirely in the final
    * year-cardinality aggregate. */
  def q126(spark: SparkSession, sfDir: String): DataFrame = {
    val euroNations = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cust_nk"))
    val c = Tables.customer(spark, sfDir)
      .join(broadcast(euroNations), col("c_nationkey") === col("cust_nk"))
      .select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
    val p = Tables.part(spark, sfDir)
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val sn = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revTerm.as("rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_7", col("rev"))).as("num"),
        sum(col("rev")).as("den"))
      .select(col("o_year"),
        coalesce(col("num").cast("double"), lit(0.0))
          ./(col("den").cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** q127: TPC-H Q13-shaped customer distribution — how many customers
    * placed exactly k orders, for every k INCLUDING ZERO: the LEFT
    * OUTER join is load-bearing (an inner join silently drops the
    * never-ordered customers, the classic Q13 trap), and the double
    * aggregation (per-customer count, then histogram of counts) is the
    * two-level group-by no single pass expresses.
    *
    * Scale posture: one custkey shuffle for the outer join + count
    * (partial counts combine map-side), then the histogram runs on
    * customer-cardinality rows; counts are exact so the
    * (custdist DESC, c_count DESC) sort is deterministic. */
  def q127(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q128: TPC-H Q14-shaped promotion effect — the percentage of one
    * month's revenue earned by PROMO-type parts. Numerator and
    * denominator are decimal-exact sums over the same joined rows
    * (conditional SUM skips non-PROMO rows as NULL, mirrored in the
    * oracle); the percentage is 100 × (num ÷ den) with the
    * multiply OUTSIDE the division in BOTH texts — float × and ÷ do
    * not reassociate, so the expression tree must match shape, not
    * just value.
    *
    * Scale posture: the month filter pushes to the lineitem scan;
    * part broadcasts; the whole query is one map-side-combined
    * single-group aggregate — no shuffle wider than the partial rows. */
  def q128(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = lit("1997-06-01").cast("timestamp")
    val hi = lit("1997-07-01").cast("timestamp")
    val p = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_partkey"), revTerm.as("rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev"))).as("num"),
        sum(col("rev")).as("den"))
      .select((lit(100.0) *
        (coalesce(col("num").cast("double"), lit(0.0)) / col("den").cast("double")))
        .as("promo_revenue"))
  }

  /** q129: TPC-H Q17-shaped small-quantity revenue — the average yearly
    * revenue lost if Brand#13 orders below 20% of the part's average
    * quantity were no longer taken. The correlated "20% of this part's
    * average" is decorrelated EXPLICITLY into one per-part aggregate
    * joined back to the same filtered lineitem slice — the plan
    * Catalyst's RewriteCorrelatedScalarSubquery would build, written as
    * the join so the oracle can mirror it operator for operator. The
    * threshold compare is `l_quantity < 0.2 × avg` where avg is a
    * decimal-exact sum divided by an exact count — both engines compute
    * the identical double, so the boundary rows agree.
    *
    * Scale posture: the brand filter broadcasts part into BOTH passes;
    * the per-part average aggregates partial map-side at part
    * cardinality; the final sum is a single-group aggregate. At 100 TB
    * the two lineitem passes share the same pruned scan (brand-filtered
    * partkeys), never a full-table rescan. */
  def q129(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val avgQ = l.groupBy(col("p_partkey").as("pk"))
      .agg((sum(col("l_quantity").cast("decimal(18,4)")).cast("double") /
        count(lit(1))).as("avg_qty"))
    l.join(broadcast(avgQ), col("p_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") /
        lit(7.0)).as("avg_yearly"))
  }

  /** q130: TPC-H Q21-shaped waiting suppliers — ASIA suppliers who were
    * the ONLY late shipper in a finished multi-supplier order (shipped
    * more than 60 days after the order date; the schema carries no
    * commit/receipt dates, q125's lateness definition). The three-way
    * correlation is the classic EXISTS / NOT-EXISTS pair, expressed as
    * one LEFT SEMI and one LEFT ANTI join whose different-supplier
    * predicates ride the orderkey equi-join; the candidate set is
    * DISTINCT (orderkey, suppkey) so each order counts once per
    * supplier however many of its lines were late — pinned in the
    * oracle by the same DISTINCT subquery.
    *
    * Scale posture: lateness prunes the candidate side to late lines
    * before any self-join; both the semi and anti probes stream
    * lineitem/late rows against the (much smaller) candidate build on
    * the shared orderkey key; supplier/nation/region broadcast; counts
    * are exact so (numwait DESC, s_name) is a deterministic top-10
    * TakeOrdered, never a full sort. */
  def q130(spark: SparkSession, sfDir: String): DataFrame = {
    val late = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val cand = late.distinct()
    val others = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val lateOthers = late.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    val asiaSupp = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sfDir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    cand
      .join(others, col("l_orderkey") === col("ok2") &&
        col("l_suppkey") =!= col("sk2"), "left_semi")
      .join(lateOthers, col("l_orderkey") === col("ok3") &&
        col("l_suppkey") =!= col("sk3"), "left_anti")
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  /** q137: TPC-H Q19-shaped disjunctive revenue — gross discounted
    * revenue plus matched-line count from three brand-specific
    * (size, quantity) corridors, the classic OR-of-ANDs predicate join.
    * The disjunction refuses factoring: each branch couples a part
    * attribute (brand, size) to a lineitem attribute (quantity), so it
    * can only evaluate AFTER the partkey equi-join. What CAN move to
    * the scans is each column's union envelope — brand ∈ {12, 23, 34},
    * size ≤ 35, 1 ≤ quantity ≤ 40 — written explicitly as filters so
    * the lineitem scan reads the quantity corridor instead of the
    * table (PushedFilters-pinned in PlanSpec; Catalyst does not today
    * derive these bounds from a join-condition disjunction), while the
    * residual OR rides the broadcast hash join as its non-equi
    * condition. Revenue is the shared exact-decimal term (q02
    * discipline), summed exactly and cast to double once.
    *
    * Scale posture: part prunes to three brands before broadcast (the
    * dimension never shuffles); lineitem streams through one broadcast
    * hash join with zero shuffles before the single-group partial
    * aggregate — at 100 TB the quantity envelope is the difference
    * between scanning a corridor and scanning the fact table. */
  def q137(spark: SparkSession, sfDir: String): DataFrame = {
    val brands = Seq("Brand#12", "Brand#23", "Brand#34")
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand").isin(brands: _*) && col("p_size") <= 35)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 40)
      .select(col("l_partkey"), col("l_quantity"), revTerm.as("rev"))
    val corridor =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 21)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 40))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey") && corridor)
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** q138: TPC-H Q9-shaped product-line profit — per supplier nation
    * and order year, profit on widget parts: Σ(extprice·(1−discount)
    * − 0.6·retailprice·quantity). The schema carries no partsupp, so
    * unit cost is the declared 0.6·p_retailprice proxy (a constant
    * ratio keeps the rollup shape — nation × year over a 5-table
    * join — which is what this query exercises; the cost CONSTANT is
    * not the point). All money arithmetic runs in decimal from raw
    * columns (q02 discipline; quantity is integral so its
    * double→DECIMAL(4,0) cast has no tie to round), one exact sum,
    * one cast to double.
    *
    * Scale posture: the name filter prunes part to the widget slice
    * before broadcast; supplier⋈nation broadcasts (both dimensions);
    * the one big⋈big join is lineitem⋈orders on orderkey — the
    * bucketed-layout join the q116 family already proves
    * zero-Exchange on co-bucketed tables — and it carries only
    * (orderkey, year) on the build side after projection; the rollup
    * aggregates partial map-side at nation × year cardinality. */
  def q138(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sn = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val cost = col("p_retailprice").cast("decimal(12,2)") *
      lit(0.6).cast("decimal(2,1)") * col("l_quantity").cast("decimal(4,0)")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("nation"), (revTerm - cost).as("amount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(col("amount")).cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** q139: TPC-H Q12-shaped shipping-lag pivot — per order priority,
    * how many lineitems shipped late (more than 60 days after the
    * order date; q125's lateness definition, the schema carries no
    * commit/receipt dates) vs on time. Q12's aggregation shape — the
    * two-way conditional count pivot over a fact⋈fact join — where
    * q125 (Q4) is the EXISTS shape: this one counts every LINE into
    * exactly one of two buckets, so the answer is a partition of the
    * joined row set (late + ontime = ¦lineitem¦, a free invariant the
    * spec asserts).
    *
    * Scale posture: one orderkey shuffle join (bucketed-layout
    * eligible), both CASE counts fold in the SAME partial aggregate —
    * one pass, map-side combined at priority cardinality (5 groups);
    * no second scan, no pivot shuffle. */
  def q139(spark: SparkSession, sfDir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(late, 1L).otherwise(0L)).as("late_lines"),
        sum(when(late, 0L).otherwise(1L)).as("ontime_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** q144: TPC-H Q20-shaped bulk-part suppliers — the last classic
    * TPC-H plan shape the inventory lacked: a NESTED SEMI-JOIN CHAIN,
    * where the outer relation survives on membership in a GROUPED
    * aggregate-with-HAVING over a screened fact slice (Q20's "suppliers
    * with excess availability of forest parts"; the schema ships no
    * partsupp, so availability becomes shipped volume). Here: suppliers
    * who shipped, of SOME screened part (name contains 'ol'), more than
    * 60 units during 1996 — dim-screen → fact aggregate → HAVING →
    * semi join → dim decoration, each stage a different operator class.
    * Quantity sums in exact DECIMAL (dsum) so the HAVING threshold cuts
    * identically cross-engine.
    *
    * Scale posture: the part screen broadcasts into the date-pruned
    * lineitem scan (both predicates pushed); the aggregate map-side
    * combines to (supplier, part) cardinality — bounded by the screened
    * catalog, never ¦lineitem¦; the surviving supplier keys broadcast
    * into the semi join, so the supplier table is never shuffled. */
  def q144(spark: SparkSession, sfDir: String): DataFrame = {
    val screened = Tables.part(spark, sfDir)
      .filter(col("p_name").like("%ol%"))
      .select(col("p_partkey"))
    val bulk = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .join(broadcast(screened), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(dsum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 60.0)
      .select(col("l_suppkey"))
    Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(bulk), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"))
      .orderBy(col("s_suppkey"))
  }

  /** q170: shipping-lag quantiles per order priority — q139's lateness
    * pivot upgraded from threshold counts to the DISC p50/p90 of the
    * actual order-to-ship lag distribution, the SLA percentile report a
    * fulfillment dashboard shows. Quantiles read off per-priority
    * lag-day histograms (smallest v with d·cum ≥ k·N,
    * [[graft.ops.Dsl.disc]]) — all integer (lags are whole days).
    *
    * Scale posture: the lineitem⋈orders fact join is the one
    * corpus-scale stage (orderkey equi-join, AQE-planned); the lag
    * histogram map-side-combines to (priorities × lag-domain) partials,
    * and the cumulative windows are PARTITIONED by priority over that
    * bounded frame. */
  def q170(spark: SparkSession, sfDir: String): DataFrame =
    shipLagQuantiles(
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_shipdate")),
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")))

  /** q170 kernel (planted-data seam). */
  private[graft] def shipLagQuantiles(li: DataFrame, o: DataFrame): DataFrame = {
    val h = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("lag_d"))
      .groupBy(col("priority"), col("lag_d"))
      .agg(count(lit(1)).as("cnt"))
    cumHist(h, Seq(col("priority")), col("lag_d"), col("cnt"))
      .groupBy(col("priority"))
      .agg(max(col("n")).as("n"), disc(col("lag_d"), 1, 2).as("p50_d"),
        disc(col("lag_d"), 9, 10).as("p90_d"))
      .orderBy(col("priority"))
  }
}
