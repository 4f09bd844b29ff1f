package graft.queries

import graft.{Q, Tables}

/** SURVEY §2.2 G — subqueries. Catalyst decorrelates the scalar subquery
  * into a left-outer aggregate join and rewrites the uncorrelated IN into a
  * left-semi join — both shuffle-parallel plans, no per-row re-execution.
  */
object SubqQueries {
  val defs: Seq[Q] = Seq(
    Q(
      "subq_scalar_corr",
      (s, d) => {
        // query-unique view names: shared-session safe (round-2 verdict #6)
        Tables.customer(s, d).createOrReplaceTempView("customer_ssc")
        Tables.orders(s, d).createOrReplaceTempView("orders_ssc")
        s.sql("""
          SELECT c_custkey, c_name,
                 (SELECT count(*) FROM orders_ssc WHERE o_custkey = c_custkey) AS n_orders
          FROM customer_ssc
          ORDER BY c_custkey""")
      },
      oracle = Some("""
        SELECT c_custkey, c_name,
               (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        FROM customer
        ORDER BY c_custkey""")),

    Q(
      "subq_in_uncorr",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_siu")
        Tables.orders(s, d).createOrReplaceTempView("orders_siu")
        s.sql("""
          SELECT o_orderkey, o_totalprice
          FROM orders_siu
          WHERE o_custkey IN (SELECT c_custkey FROM customer_siu WHERE c_acctbal > 8000)
          ORDER BY o_orderkey""")
      },
      oracle = Some("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
        ORDER BY o_orderkey""")),

    // TPC-H Q4 reshaped onto the fixture's column subset (no
    // l_commitdate/l_receiptdate — the late-shipment predicate is
    // l_shipdate > o_orderdate + 60 days): correlated EXISTS whose inner
    // predicate mixes an equi correlation (l_orderkey = o_orderkey) with a
    // NON-equi correlated comparison against an outer column — the shape
    // that actually stresses the decorrelator. Catalyst rewrites it to one
    // left-semi join with the range condition attached (no per-outer-row
    // re-execution, no nested loop — pinned in PlanAuditSpec), so the plan
    // is a single shuffle-parallel semi join at any fact size.
    Q(
      "subq_exists_corr",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_sec")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_sec")
        s.sql("""
          SELECT o_orderpriority, count(*) AS n_late
          FROM orders_sec
          WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
            AND EXISTS (SELECT 1 FROM lineitem_sec
                        WHERE l_orderkey = o_orderkey
                          AND l_shipdate > o_orderdate + INTERVAL '60' DAY)
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS n_late
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // G (round 19): RECURSIVE CTE — Spark 4's WITH RECURSIVE surface
    // (SPARK-24497), declared on the classic gap-filling shape no window
    // or join can express without a generator: per customer, the full
    // month series from their first to their last order month, with
    // per-month order counts ZERO-FILLED for the gap months (the
    // activity-timeline densification every cohort/retention query needs).
    // The recursion is the series generator: base = one (customer,
    // first_month) row per customer, step = advance one month while
    // m < last_month. Spark evaluates it level-synchronously — each level
    // is ONE distributed self-union step over ALL customers, so the
    // recursion is breadth-parallel: depth is bounded by the CALENDAR
    // span in months (79 on this fixture; the wrapper pins
    // spark.sql.cteRecursionLevelLimit = 512 so a wider-span corpus keeps
    // working up to ~42 years and still fails loudly beyond — r19
    // ADVICE), never by data size; width (customers per level)
    // partitions horizontally like any other row set. The customer bound
    // keeps the declared output audit-sized (the join_cross discipline);
    // the month-count side aggregates the UNBOUNDED orders table.
    // (sequence()-between-dates expresses the same series generator
    // Spark-natively — the row exists to declare the recursive-CTE
    // surface itself, which also covers transitive-closure shapes
    // sequence() cannot.)
    Q(
      "subq_recursive_cte",
      (s, d) => {
        // Recursion-depth guard (r19 ADVICE): depth equals the corpus's
        // calendar span in months (79 on this fixture), and a >=100-month
        // corpus would hard-fail at the default
        // spark.sql.cteRecursionLevelLimit = 100. 512 covers a ~42-year
        // span with the same loud-failure backstop beyond it. Set WITHOUT
        // the Tables.events save/restore idiom deliberately: UnionLoopExec
        // reads the limit from the session conf at EXECUTION time (after
        // this fn returns the lazy DataFrame), so a scoped restore would
        // silently undo the guard before the loop ever runs. The limit has
        // no effect on any non-recursive query, so leaving it set is
        // shared-session-safe.
        s.conf.set("spark.sql.cteRecursionLevelLimit", "512")
        Tables.orders(s, d).createOrReplaceTempView("orders_src")
        s.sql("""
          WITH RECURSIVE series AS (
            SELECT o_custkey AS c,
                   CAST(date_trunc('MONTH', min(o_orderdate)) AS DATE) AS m,
                   CAST(date_trunc('MONTH', max(o_orderdate)) AS DATE) AS mend
            FROM orders_src WHERE o_custkey < 100 GROUP BY o_custkey
            UNION ALL
            SELECT c, CAST(m + INTERVAL '1' MONTH AS DATE) AS m, mend
            FROM series WHERE m < mend
          ),
          per_month AS (
            SELECT o_custkey AS c,
                   CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m,
                   count(*) AS n
            FROM orders_src WHERE o_custkey < 100 GROUP BY 1, 2
          )
          SELECT s.c, s.m, CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders
          FROM series s LEFT JOIN per_month p ON p.c = s.c AND p.m = s.m
          ORDER BY s.c, s.m""")
      },
      oracle = Some("""
        WITH RECURSIVE series AS (
          SELECT o_custkey AS c,
                 CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS m,
                 CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS mend
          FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
          UNION ALL
          SELECT c, CAST(m + INTERVAL 1 MONTH AS DATE) AS m, mend
          FROM series WHERE m < mend
        ),
        per_month AS (
          SELECT o_custkey AS c,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 count(*) AS n
          FROM orders WHERE o_custkey < 100 GROUP BY 1, 2
        )
        SELECT s.c, s.m, CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders
        FROM series s LEFT JOIN per_month p ON p.c = s.c AND p.m = s.m
        ORDER BY s.c, s.m""")),

    // G (round 20): TRANSITIVE CLOSURE over a recursive CTE — the shape
    // sequence() cannot express and the reason the UnionLoop surface
    // exists (subq_recursive_cte's month series is a generator; this row
    // is genuine graph reachability). The graph is a referral DAG built
    // from customer keys (the join_cross key-derivation discipline):
    // child c refers up to parent floor(c/3) — every node has ONE parent
    // strictly below it, so the edge set is a tree (acyclic BY
    // CONSTRUCTION; the hops < 12 bound is the defensive cycle guard a
    // production closure always carries, inert here). The closure
    // enumerates every (descendant, ancestor, hops) pair — unique per
    // pair on a tree, so counts are exact — and the payload is the
    // org-rollup every hierarchy query needs: per ancestor, subtree size,
    // depth, and the subtree's account-balance total (exact-decimal sum
    // cast back to double — the agg_pricing_q1 discipline; a raw double
    // sum would hash-fork on shuffle order).
    //
    // Scale shape: each recursion level is ONE distributed join of the
    // frontier against the edge set (breadth-parallel like
    // subq_recursive_cte); depth is the tree height (log₃ of the key
    // bound — 6 at the 1000-key cap, inert vs the pinned limit 512),
    // total closure size is N·height (linearithmic, never quadratic on a
    // tree). The rollup join-back side carries the SAME key bounds the
    // closure does (every node is in [3, 1000) by construction), so it is
    // answer-bound — broadcasting it is correct at any corpus size (the
    // join_cross discipline), and the bounds reach the parquet scan as
    // pushed filters (pinned). DuckDB runs the identical WITH RECURSIVE
    // text.
    Q(
      "subq_recursive_graph",
      (s, d) => {
        s.conf.set("spark.sql.cteRecursionLevelLimit", "512")
        Tables.customer(s, d).createOrReplaceTempView("customer_srg")
        s.sql("""
          WITH RECURSIVE edges AS (
            SELECT c_custkey AS child,
                   CAST(floor(c_custkey / 3) AS BIGINT) AS parent
            FROM customer_srg WHERE c_custkey >= 3 AND c_custkey < 1000
          ),
          reach AS (
            SELECT child AS node, parent AS anc, CAST(1 AS BIGINT) AS hops
            FROM edges
            UNION ALL
            SELECT r.node, e.parent AS anc, r.hops + CAST(1 AS BIGINT) AS hops
            FROM reach r JOIN edges e ON e.child = r.anc
            WHERE r.hops < 12
          )
          SELECT r.anc, CAST(count(*) AS BIGINT) AS n_desc,
                 max(r.hops) AS max_hops,
                 CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS subtree_bal
          FROM reach r
          JOIN (SELECT c_custkey, c_acctbal FROM customer_srg
                WHERE c_custkey >= 3 AND c_custkey < 1000) c
            ON c.c_custkey = r.node
          GROUP BY r.anc
          ORDER BY r.anc""")
      },
      oracle = Some("""
        WITH RECURSIVE edges AS (
          SELECT c_custkey AS child,
                 CAST(floor(c_custkey / 3) AS BIGINT) AS parent
          FROM customer WHERE c_custkey >= 3 AND c_custkey < 1000
        ),
        reach AS (
          SELECT child AS node, parent AS anc, CAST(1 AS BIGINT) AS hops
          FROM edges
          UNION ALL
          SELECT r.node, e.parent AS anc, r.hops + CAST(1 AS BIGINT) AS hops
          FROM reach r JOIN edges e ON e.child = r.anc
          WHERE r.hops < 12
        )
        SELECT r.anc, CAST(count(*) AS BIGINT) AS n_desc,
               max(r.hops) AS max_hops,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS subtree_bal
        FROM reach r
        JOIN (SELECT c_custkey, c_acctbal FROM customer
              WHERE c_custkey >= 3 AND c_custkey < 1000) c
          ON c.c_custkey = r.node
        GROUP BY r.anc
        ORDER BY r.anc""")))
}
