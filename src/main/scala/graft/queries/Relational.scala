package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.enrich.Enrichment
import graft.functions.EtlFunctions._
import graft.operators.{AsOfJoin, Cleaning, Consolidate, DateStreaks, IntervalJoin, KeepLastDedup, Scd2, StableIds}

/** Relational operator inventory (SURVEY.md §2.3-2.7) expressed over the
  * driver's TPC-H-ish testdata, each with a DuckDB oracle.
  *
  * Determinism contract with the oracle:
  *  - money/double aggregates go through exact integer cents
  *    (`floor(x*100+0.5)::BIGINT`), summed exactly, divided once at the
  *    end — identical IEEE double ops in Spark and DuckDB, no
  *    decimal-rounding-mode divergence;
  *  - no raw TIMESTAMP column ever reaches an output (tz-representation
  *    differs between engines) — always `date_format`/DATE;
  *  - every computed column is aliased identically in Spark and SQL.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Exact integer cents from a double (deterministic across engines). */
  private def cents(c: Column): Column = floor(c * lit(100) + lit(0.5)).cast("long")

  /** The shared events projection of the incremental-view gates (q133
    * merge, q191 retraction): exact integer cents, never raw doubles.
    */
  private def eventsCents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        cents(col("value")).as("v"))

  // ---------------------------------------------------------------- queries

  val queries: Map[String, Q] = Map(
    // A1/A4/A7 — hash aggregate with map-side partial agg; the shape of the
    // reference's min-per-key and per-day group loads. Group count is tiny →
    // single reduce stage at any scale.
    "q01_groupby_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
          (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / 100.0).as("sum_disc_price"),
          count(lit(1)).as("count_rows"))
    }),

    // P1/P2-shaped scan: filter + projection; both push into the parquet
    // scan (PushedFilters + 3-column ReadSchema).
    "q02_filter_project" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // P2 — not-null split, good side. Mandatory-null rows are derived
    // (testdata has no nulls) exactly as the oracle derives them.
    "q03_notnull_good" -> ((s, dir) => {
      val t = derivedNullOrders(s, dir)
      Cleaning.notNullSplit(t, Seq("pr", "tp"))._1
    }),

    // P2 — reject capture (the complement side → error side-channel).
    "q04_notnull_rejects" -> ((s, dir) => {
      val t = derivedNullOrders(s, dir)
      Cleaning.notNullSplit(t, Seq("pr", "tp"))._2
    }),

    // P4 — ""/" " → NULL normalization.
    "q05_empty_to_null" -> ((s, dir) => {
      val t = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("lang") === "en", lit("")).when(col("lang") === "fr", lit(" "))
          .otherwise(col("lang")).as("lang2"))
      Cleaning.emptyToNull(t, Seq("lang2"))
    }),

    // J1 — broadcast lookup enrichment (tiny dim), then reduce.
    "q06_broadcast_lookup" -> ((s, dir) => {
      val li  = Tables.lineitem(s, dir)
      val dim = Tables.supplier(s, dir).select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      val enriched = Enrichment.broadcastLookup(li, dim, "l_suppkey")
      enriched.groupBy(col("s_name"))
        .agg(
          count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) / 100.0).as("revenue"))
    }),

    // J1 error path — unmatched-key probe (reference aborts on nonempty).
    // Plan shape: distinct keys first, then broadcast anti-join — the fact
    // table never enters the shuffle (VERDICT r1 item 7).
    "q07_missing_keys" -> ((s, dir) => {
      val li  = Tables.lineitem(s, dir)
      val dim = Tables.supplier(s, dir).filter(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Enrichment.missingKeys(li, dim, "l_suppkey")
    }),

    // J2/S8/A1 — first-timestamp enrichment via semi-join + partial min-agg
    // (the reference's IN-list pushdown, distributed).
    "q08_first_ts_enrich" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val fact = orders.filter(
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") <  lit("1996-01-01").cast("timestamp"))
      Enrichment.firstTimestamp(fact, orders.select(col("o_custkey"), col("o_orderdate")),
          "o_custkey", "o_orderdate", "first_ts")
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("first_ts"), "yyyy-MM-dd").as("first_date"))
    }),

    // A2 — distinct.
    "q09_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_linestatus")).distinct()),

    // O1 — union consolidation of per-input frames.
    "q10_union" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      Consolidate.union(Seq(
        li.filter(col("l_returnflag") === "A"),
        li.filter(col("l_returnflag") === "R")))
    }),

    // D1 — keep-last dedup (kept side): one row per customer, latest order.
    "q11_keeplast_dedup" -> ((s, dir) => {
      val (kept, _) = KeepLastDedup(Tables.orders(s, dir), Seq("o_custkey"),
        Seq(col("o_orderdate"), col("o_orderkey")))
      kept.select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("last_date"))
    }),

    // D1 — duplicate capture (the dropped rows → duplicates side-channel).
    "q12_dup_capture" -> ((s, dir) => {
      val (_, dups) = KeepLastDedup(Tables.orders(s, dir), Seq("o_custkey"),
        Seq(col("o_orderdate"), col("o_orderkey")))
      dups.select(col("o_custkey"), col("o_orderkey"))
    }),

    // G1 — consecutive-date streaks (gaps and islands).
    "q13_date_streaks" -> ((s, dir) => {
      val d = Tables.orders(s, dir).select(to_date(col("o_orderdate")).as("od"))
      DateStreaks(d, "od").select(
        date_format(col("streak_start"), "yyyy-MM-dd").as("streak_start"),
        date_format(col("streak_end"), "yyyy-MM-dd").as("streak_end"),
        col("n_days").cast("long").as("n_days"))
    }),

    // F3-F6 — the derive chain (formats, ISO week, weekday, keys, corridor).
    "q14_derive_keys" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.select(
        col("o_orderkey"),
        fmtDateShort(col("o_orderdate")).as("date_short"),
        weekDay(col("o_orderdate")).as("week_day"),
        isoWeek(col("o_orderdate")).cast("long").as("week_num"),
        corridor(col("o_orderpriority")).as("corridor"),
        dashKey(fmtDateShort(col("o_orderdate")), col("o_orderkey").cast("string"),
          col("o_orderpriority")).as("train_key"))
    }),

    // F10 — midnight rollover (conditional day-shift on time-of-day compare).
    "q15_midnight_rollover" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val ticket = col("o_orderdate") + (col("o_orderkey") % 24).cast("int") * expr("INTERVAL 1 HOUR")
      val sched  = col("o_orderdate") + ((col("o_orderkey") * 7) % 24).cast("int") * expr("INTERVAL 1 HOUR")
      o.select(
        col("o_orderkey"),
        fmtDateTimeMinute(midnightRollover(ticket, sched)).as("train_departure"))
    }),

    // F11 — 05:00 service-date cutoff.
    "q16_service_date" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val ticket = col("o_orderdate") + (col("o_orderkey") % 24).cast("int") * expr("INTERVAL 1 HOUR")
      o.select(
        col("o_orderkey"),
        fmtDateShort(serviceDate(ticket)).as("service_date"))
    }),

    // U1→F6/F7/F8 — phone cleanup decomposed to built-ins.
    "q17_phone_clean" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val prefix = concat(lit("+"), col("c_nationkey").cast("string"))
      val tel = concat(prefix, lit("-"), (col("c_custkey") * 7919).cast("string"),
        lit("-"), col("c_custkey").cast("string"))
      c.select(col("c_custkey"), cleanPhone(prefix, tel).as("telephone"))
    }),

    // F9 — VAT gross-up ×1.15 in exact integer units (1e-6 scale).
    "q18_vat_grossup" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.select(col("l_orderkey"), col("l_linenumber"),
        vatGrossUp(col("l_tax")).as("tax_grossed"))
    }),

    // A3/A4/A6 — audit counters: row count, null count, dup count per group.
    "q19_audit_counts" -> ((s, dir) => {
      val t = derivedNullOrders(s, dir)
      t.groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("pr").isNull || col("tp").isNull, 1L).otherwise(0L)).as("n_rejects"))
    }),

    // O2+O3 — deterministic top-k (sort with total-order tiebreak + limit).
    "q20_topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)),

    // Skew salting — two-phase salted aggregation; the oracle computes the
    // plain group-by, proving the result is salt-independent.
    "q27_salted_agg" -> ((s, dir) => {
      import graft.operators.Skew
      val li = Tables.lineitem(s, dir)
        .withColumn("qty_cents", cents(col("l_quantity")))
      Skew.saltedAggregate(li, Seq("l_returnflag"),
        Seq(Skew.SaltedSum("qty_cents", "sum_qty_cents"),
          Skew.SaltedCount("n_rows"),
          Skew.SaltedMin("l_orderkey", "min_key"),
          Skew.SaltedMax("l_orderkey", "max_key")))
    }),

    // Bloom semi-join reduction: orders joined to a selective customer
    // subset with the fact side bloom-filtered BEFORE its exchange —
    // shuffle bytes track the join's selectivity, not the fact table.
    // False positives are dropped by the exact join that still runs, so
    // the oracle is the PLAIN join: equal hashes prove the reduction is
    // invisible to semantics.
    "q129_bloom_join_reduce" -> ((s, dir) => {
      val dim = Tables.customer(s, dir)
        .filter(col("c_nationkey") < 3)
        .select(col("c_custkey"), col("c_nationkey"))
      val fact = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.operators.BloomJoinReduce.inner(fact, dim, "o_custkey", "c_custkey",
          expectedDimKeys = 20000L, fpp = 0.01)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_cents"))
    }),

    // Skew salting — salted equi-join equals the plain join (oracle).
    "q28_salted_join" -> ((s, dir) => {
      import graft.operators.Skew
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey").as("s_suppkey"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
      Skew.saltedJoin(li, sup, "s_suppkey", numSalts = 8)
    }),

    // Heavy hitters: exact counts above a minimum-support threshold.
    "q29_heavy_hitters" -> ((s, dir) => {
      import graft.operators.Sketches
      Sketches.heavyHitters(
        Tables.lineitem(s, dir).select((col("l_suppkey") % 13).as("bucket")),
        "bucket", minSupport = 0.07)
    }),

    // Count-min frequency calibration (the q106/q116 pattern for
    // FREQUENCIES): per-half sketches over events.user_id merge into
    // the corpus sketch (counter-wise sum), then every distinct user's
    // point estimate is compared to its exact count — one-sided
    // (est >= exact always: only collisions inflate) and within the
    // Markov bound 8·N/width (P[violate] < 8^-depth per key). The
    // estimates depend on xxhash64, so the oracle pins the exact side
    // and asserts the booleans held — a broken hash seed, a lossy
    // merge, or a two-sided estimator all flip a boolean.
    "q124_cms_calibration" -> ((s, dir) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"))
      val (depth, width) = (4, 2048)
      val merged = Sketches.countMinMerge(Seq(0, 1).map(h =>
        Sketches.countMin(ev.filter(col("event_id") % 2 === h),
          "user_id", depth, width)))
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
      val est = Sketches.countMinEstimate(merged,
        exact.select(col("user_id")), "user_id", depth, width)
      exact.join(est, Seq("user_id"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("__n"))))
        .select(col("user_id"), col("exact_cnt"),
          (col("cm_est") >= col("exact_cnt")).as("one_sided_ok"),
          ((col("cm_est") - col("exact_cnt")) * width <= col("__n") * 8)
            .as("within_bound"))
    }),

    // Count-min MERGEABILITY, oracle-pinned (VERDICT r11 item 7): the
    // sketch of a 4-way sharded build (per-shard countMin → counter-wise
    // merge) must BIT-EQUAL the directly-built corpus sketch — the
    // contract that lets 1000 executors sketch their splits
    // independently and roll up. Verified structurally, not by sampled
    // estimates: full-outer join of the two counter relations, per hash
    // row assert every counter equal AND counters sum to |events| (each
    // input row increments exactly one counter per hash row). Counter
    // VALUES are xxhash64-placed so the oracle can't recompute them;
    // it pins the row total exactly and the equality booleans as TRUE —
    // a lossy merge, a shard/seed mismatch, or a dropped counter flips
    // a boolean or breaks the sum. All frames here are sketch-sized
    // (depth·width) except the two builds, which are one map-side-
    // combined pass each over the same scan.
    "q126_cms_merge_shards" -> ((s, dir) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"))
      val (depth, width) = (4, 1024)
      val merged = Sketches.countMinMerge((0 until 4).map(h =>
        Sketches.countMin(ev.filter(pmod(col("event_id"), lit(4)) === h),
          "user_id", depth, width)))
      val direct = Sketches.countMin(ev, "user_id", depth, width)
      direct.as("d").join(merged.as("m"), Seq("r", "c"), "full_outer")
        .groupBy(col("r"))
        .agg(
          bool_and(coalesce(col("d.cnt"), lit(-1L)) ===
            coalesce(col("m.cnt"), lit(-2L))).as("all_counters_equal"),
          sum(coalesce(col("m.cnt"), lit(0L))).as("row_total"))
    }),

    // Join-size PRE-FLIGHT from sketches alone (VERDICT r11 item 7
    // family): the self-join cardinality of events on user_id —
    // Σ_k f(k)², the F2 skew measure that predicts the worst shuffle a
    // key can produce — estimated from the count-min inner product
    // without joining anything event-sized, then gated against the
    // exact value: one-sided (collisions only add cross terms) and
    // within the Markov bound 8·N²/width. The two sketches are built
    // from two independent reads so the estimator exercises the
    // general two-relation path, not a self-join special case.
    "q127_join_size_preflight" -> ((s, dir) => {
      import graft.operators.Sketches
      val (depth, width) = (4, 2048)
      val skA = Sketches.countMin(
        Tables.events(s, dir).select(col("user_id")), "user_id", depth, width)
      val skB = Sketches.countMin(
        Tables.events(s, dir).select(col("user_id")), "user_id", depth, width)
      val est = Sketches.countMinJoinSize(skA, skB, depth)
      val ev = Tables.events(s, dir).select(col("user_id"))
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("exact_join_rows"))
      exact
        .crossJoin(broadcast(est))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("__n"))))
        .select(col("exact_join_rows"),
          (col("join_size_est") >= col("exact_join_rows")).as("one_sided_ok"),
          // the bound is a calibration inequality, not exact arithmetic:
          // compute it in double — n²·8 in LongType would overflow ANSI
          // arithmetic right at the 100 TB event counts (~1e9+) this
          // pre-flight exists for
          ((col("join_size_est") - col("exact_join_rows")).cast("double") * width <=
            col("__n").cast("double") * col("__n").cast("double") * 8).as("within_bound"))
    }),

    // Sketch-DRIVEN skew mitigation — the pre-flight loop CLOSED: the
    // count-min sketch (which the streaming CMS store maintains live
    // at 100 TB) upper-bounds the heaviest key's frequency WITHOUT
    // touching the data (min over hash rows of the row's max counter —
    // one-sided, like q127's inner product), the salt factor derives
    // from bound/targetRowsPerReducer, and the salted two-phase
    // aggregate runs with that factor. Because the bound is one-sided
    // the factor can only over-provision, and salt choice cannot change
    // a decomposable aggregate — so the oracle is the PLAIN group-by,
    // with the one-sidedness measured against the exact max group size.
    "q141_auto_salt" -> ((s, dir) => {
      import graft.operators.{Sketches, Skew}
      val ev = Tables.events(s, dir)
        .select(col("event_type"), cents(col("value")).as("v"))
      val sketch = Sketches.countMin(ev, "event_type", depth = 4, width = 1024)
      val bound = Skew.heavyKeyBound(sketch)
      val salts = Skew.saltsForBound(bound, targetRowsPerReducer = 500L)
      val agg = Skew.saltedAggregate(ev, Seq("event_type"),
        Seq(Skew.SaltedCount("n_events"), Skew.SaltedSum("v", "sum_cents")),
        numSalts = salts)
      val maxExact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("__c"))
        .agg(max(col("__c")).as("__mx"))
      agg.crossJoin(broadcast(maxExact))
        .select(col("event_type"), col("n_events"), col("sum_cents"),
          (lit(bound) >= col("__mx")).as("bound_one_sided_ok"),
          lit(salts >= 2 && salts <= 256).as("salts_sized"))
    }),

    // Incremental rollup maintenance (the materialized-view pattern):
    // a persisted per-(user, type) rollup absorbs a new ingest batch by
    // merging ALGEBRAIC aggregate state — counts add, sums add, min/max
    // fold — WITHOUT touching the history's raw rows; the gate pins the
    // merged state equal to a full recompute over everything. Here the
    // "history" and "new batch" are an 80/20 split of events by id; in
    // production the left term is the stored rollup itself, so the
    // daily cost is one pass over the NEW data plus a state-sized
    // merge, never a re-scan of the table. Both partials and the merge
    // are map-side combined; zero joins.
    // TPC-H Q21's correlated EXISTS / NOT-EXISTS shape, decorrelated:
    // suppliers who were the SOLE supplier with returned lines in a
    // multi-supplier order. The textbook form runs two correlated
    // subqueries per candidate row; here both collapse into ONE
    // order-keyed aggregate (distinct suppliers, distinct
    // returned-line suppliers) joined back — one exchange on the
    // order key, supplier dimension broadcast, top-20 via TakeOrdered.
    // The ORACLE uses the literal EXISTS/NOT-EXISTS SQL, so the gate
    // pins the decorrelation's equivalence, not just its output.
    "q183_sole_returner" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val perOrder = li.groupBy(col("l_orderkey")).agg(
        count_distinct(col("l_suppkey")).as("n_supp"),
        count_distinct(when(col("l_returnflag") === "R", col("l_suppkey")))
          .as("n_r_supp"))
      li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
        .join(perOrder, Seq("l_orderkey"))
        .filter(col("n_supp") >= 2 && col("n_r_supp") === 1)
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }),

    // MAD-based daily-volume anomaly report — the robust ingest
    // monitor (a mean/stddev z-score is dragged by the very outliers
    // it hunts; median absolute deviation is not): per event type,
    // the exact LOWER MEDIAN of daily counts (value at rank
    // (n+1) div 2 under the total (n, day) order), the MAD around it
    // (same rank trick on |n − med|), and how many days breach the
    // classic |n − med| > 3·MAD fence. All integers, window work
    // bounded per type by the calendar, one summary row per type.
    "q179_volume_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir)
        .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .filter(col("day").isNotNull)
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      val wCnt = Window.partitionBy(col("event_type"))
      val wVal = Window.partitionBy(col("event_type"))
        .orderBy(col("n").asc, col("day").asc)
      val med = d.withColumn("rn", row_number().over(wVal))
        .withColumn("cnt", count(lit(1)).over(wCnt))
        .filter(expr("rn = (cnt + 1) div 2"))
        .select(col("event_type"), col("n").as("med"))
      val dev = d.join(med, Seq("event_type"))
        .withColumn("ad", abs(col("n") - col("med")))
      val wAd = Window.partitionBy(col("event_type"))
        .orderBy(col("ad").asc, col("day").asc)
      val mad = dev.withColumn("rn", row_number().over(wAd))
        .withColumn("cnt", count(lit(1)).over(wCnt))
        .filter(expr("rn = (cnt + 1) div 2"))
        .select(col("event_type"), col("ad").as("mad"))
      dev.join(mad, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(col("ad") > lit(3L) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    }),

    // Ingest continuity report — "are any days missing, and where":
    // per event type, present-day count vs calendar span, number of
    // contiguous runs, and the widest hole — the gaps-and-islands
    // pattern (q13) turned into the partition-completeness check every
    // scheduled pipeline alarms on. One lag window per type, day
    // arithmetic in epoch-day integers, no calendar-grid join.
    "q180_ingest_gaps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir)
        .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .filter(col("day").isNotNull)
        .distinct()
      val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      d.withColumn("gap", col("day") - lag(col("day"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          (max(col("day")) - min(col("day")) + 1L).as("span_days"),
          (max(col("day")) - min(col("day")) + 1L - count(lit(1))).as("n_missing"),
          (sum(when(col("gap") > 1L, 1L).otherwise(0L)) + 1L).as("n_runs"),
          coalesce(max(greatest(col("gap") - 1L, lit(0L))), lit(0L)).as("max_gap"))
    }),

    "q133_incremental_rollup" -> ((s, dir) => {
      val ev = eventsCents(s, dir)
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_cents"),
            min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      val history = partial(ev.filter(col("event_id") % 10 < 8))
      val fresh = partial(ev.filter(col("event_id") % 10 >= 8))
      history.unionByName(fresh)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("n_events")).as("n_events"), sum(col("sum_cents")).as("sum_cents"),
          min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"))
    }),

    // GROWTH ACCOUNTING — the weekly engagement ledger (the board
    // slide behind q131's retention triangle): every active (user,
    // week) classifies as new (first week), retained (active the week
    // before) or resurrected (gap behind), and a user absent after
    // week w contributes churned to w+1 — so
    // new + resurrected − churned telescopes to the WoW active delta.
    // One user-keyed exchange feeds BOTH windows (lag + lead share the
    // ordering), then a week-keyed count; no joins, no calendar grid.
    "q193_growth_accounting" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
        .filter(col("user_id").isNotNull && col("wk").isNotNull)
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("wk").asc)
      val lagged = wk.withColumn("prev", lag(col("wk"), 1).over(w))
        .withColumn("next", lead(col("wk"), 1).over(w))
      val states = lagged.select(col("wk"),
        when(col("prev").isNull, "new")
          .when(col("prev") === col("wk") - 1, "retained")
          .otherwise("resurrected").as("cls"))
      val churn = lagged.filter(col("next").isNull || col("next") > col("wk") + 1)
        .select((col("wk") + 1).as("wk"), lit("churned").as("cls"))
      states.unionByName(churn)
        .groupBy(col("wk"))
        .agg(
          sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
          sum(when(col("cls") === "churned", 1L).otherwise(0L)).as("n_churned"))
    }),

    // RETRACTION — the DELETE half of q133's incremental-view story
    // (the Flink retract-stream move): erased/expired rows subtract
    // their PARTIALS from the maintained state — counts and sums are
    // algebraic both ways, so the state never re-reads history; groups
    // whose count hits zero vanish. (min/max are deliberately absent:
    // they are NOT retractable without the group's raw rows — the
    // documented boundary of the technique.) The gate retracts the
    // mod-7 batch from the full state and must equal a recompute over
    // the complement.
    "q191_rollup_retract" -> ((s, dir) => {
      val ev = eventsCents(s, dir)
      // the algebraic state carries the NON-NULL value count alongside
      // the sum: SQL's SUM over a group with only NULL values is NULL,
      // not 0, and subtraction alone cannot tell the two apart — the
      // count makes the retracted state reproduce SQL exactly even
      // when every surviving value is NULL
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), count(col("v")).as("n_vals"),
            sum(col("v")).as("sum_cents"))
      val state = partial(ev).alias("st")
      // NULL group keys are real groups (events carries NULL user_ids):
      // the retraction must hit them too, hence the null-safe join keys.
      // NULL event_ids (none exist in this table, but the predicate
      // doesn't get to assume that) are NEVER retracted: `% 7 === 0` is
      // NULL-out on a NULL id, and the oracle's complement says
      // `<> 0 OR IS NULL` so both sides keep NULL-id rows — the
      // equivalence is NULL-symmetric, not invariant-dependent
      val retract = partial(ev.filter(col("event_id") % 7 === 0))
        .withColumnRenamed("n_events", "r_n")
        .withColumnRenamed("n_vals", "r_nv")
        .withColumnRenamed("sum_cents", "r_sum").alias("r")
      state.join(retract,
          col("st.user_id") <=> col("r.user_id") &&
            col("st.event_type") <=> col("r.event_type"), "left")
        .select(col("st.user_id").as("user_id"),
          col("st.event_type").as("event_type"),
          (col("st.n_events") - coalesce(col("r_n"), lit(0L))).as("n_events"),
          when(col("st.n_vals") - coalesce(col("r_nv"), lit(0L)) > 0L,
            col("st.sum_cents") - coalesce(col("r_sum"), lit(0L)))
            .otherwise(lit(null).cast("long")).as("sum_cents"))
        .filter(col("n_events") > 0L)
    }),

    // Session PATH analysis (the clickstream journey report): events
    // sessionize per user on a 30-min gap, each session folds to its
    // ordered event-type path string, and the corpus's top-20 paths
    // rank by frequency. Total order inside a session is (us, event_id)
    // — bit-stable across engines. Shape: the session window and the
    // running session-id share ONE user_id exchange; the per-session
    // fold and the global path count partial-aggregate before their
    // exchanges; only 20 winners leave via TakeOrdered.
    "q130_session_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val lagUs = lag(col("us"), 1).over(w)
      val sess = ev
        .withColumn("brk",
          when(lagUs.isNull || col("us") - lagUs > 1800L * 1000000, 1L).otherwise(0L))
        .withColumn("sid",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy(col("user_id"), col("sid"))
        .agg(array_sort(collect_list(
          struct(col("us"), col("event_id"), col("event_type")))).as("evs"))
        .select(concat_ws(">", expr("transform(evs, x -> x.event_type)")).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
        .limit(20)
    }),

    // Retention cohorts (the canonical product-analytics triangle):
    // users cohort by first-active epoch-week; each (cohort, offset)
    // cell counts users active that many weeks later. ONE user_id
    // exchange total and ZERO joins: the per-user aggregate carries
    // (first week, distinct-week set) together — per-user state is the
    // user's active-week set, bounded by the timeline, map-side
    // combined — and the explode emits one row per user-week, already
    // distinct, into the cell count's partial aggregation.
    "q131_retention_cohorts" -> ((s, dir) => {
      val weeks = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
      weeks.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"), collect_set(col("wk")).as("wks"))
        .select(col("cohort_wk"), explode(col("wks")).as("wk"))
        .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
        .groupBy(col("cohort_wk"), col("wk_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Per-source cap with overflow accounting (the "max N docs per
    // domain" curation rule): each (source, lang) keeps its 5 longest
    // documents under the deterministic (n_chars desc, doc_id asc)
    // order; every kept row carries its rank and how many the cell
    // dropped — the audit a capped crawl needs. ONE exchange on the
    // cell key: rank and cell size come from the same window
    // partitioning, and the filter prunes before anything else moves.
    "q132_source_cap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"), col("lang"))
      val ranked = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .withColumn("rank",
          row_number().over(w.orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long"))
        .withColumn("n_dropped",
          greatest(count(lit(1)).over(w) - 5, lit(0L)))
      ranked.filter(col("rank") <= 5)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          col("rank"), col("n_dropped"))
    }),

    // Time-RANGE window (not rows): per event, count + exact-cents sum of
    // the user's events in the trailing hour, peers at equal timestamps
    // included on both engines. The ordering key is integer microseconds
    // (rangeBetween needs a numeric frame); one shuffle on the user key.
    "q74_rolling_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600L * 1000000, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
          cents(col("value")).as("v"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_hour"),
          sum(col("v")).over(w).as("sum_cents_hour"))
    }),

    // Pivot: per-user event-type count matrix with the value set pinned
    // (never inferred — a distinct-scan at 100 TB, and unstable columns).
    // Cells coalesce to 0: Spark pivot yields NULL for absent groups
    // where a FILTERed COUNT gives 0.
    "q75_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    }),

    // CUBE rollup lattice over (status, priority): all four grouping
    // sets in ONE pass (map-side expansion, one shuffle), with
    // grouping_id disambiguating subtotal rows from data nulls.
    "q76_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_cents"),
          grouping_id().as("gid"))),

    // ROLLUP lattice over (nation, order year) — the drill-down report
    // shape (detail → per-nation subtotal → grand total) in ONE pass:
    // map-side grouping-set expansion, one shuffle, subtotal rows
    // disambiguated from data nulls by grouping_id. Dims join before
    // the rollup: nation broadcast outright; customer a plain equi-join
    // AQE converts or shuffles by size — never the fact side twice.
    "q135_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .rollup(col("n_name"), col("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_cents"),
          grouping_id().as("gid"))),

    // Explicit GROUPING SETS — the two marginals plus the grand total,
    // WITHOUT the (nation, year) detail level ROLLUP would force: the
    // report asks exactly three aggregation levels and the expansion
    // materializes exactly those, still one pass / one shuffle.
    "q136_grouping_sets" -> ((s, dir) => {
      val joined = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      joined
        .groupingSets(
          Seq(Seq(col("n_name")), Seq(col("o_year")), Seq.empty[org.apache.spark.sql.Column]),
          col("n_name"), col("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_cents"),
          grouping_id().as("gid"))
    }),

    // The analytic window-function family over ONE shared partition
    // ordering — lag/lead navigation, row numbering, ntile quartiles,
    // and a running sum — so every frame rides a SINGLE user_id
    // exchange + sort (PlanSpec pins exactly one exchange): the window
    // breadth a reporting user expects, at one shuffle of cost. The
    // (ts, event_id) total order is bit-stable across engines.
    "q142_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          row_number().over(w).cast("long").as("rn"),
          ntile(4).over(w).cast("long").as("ntile4"),
          sum(cents(col("value")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("run_cents"))
    }),

    // NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): the
    // dimension-reconciliation shape where NULL is a real key ("no
    // attribution" buckets must pair, not cross or drop). Both sides
    // pre-aggregate per key — the NULL group collapses to ONE row per
    // side — then the null-safe left join pairs them 1:1; an engine
    // that treats NULL = NULL as false drops the null bucket's n_b and
    // hash-mismatches.
    "q143_nullsafe_join" -> ((s, dir) => {
      val key = when(col("user_id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("user_id") % 20)
      val ev = Tables.events(s, dir)
      val a = ev.select(key.as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_a"))
      val b = ev.filter(col("event_type") === "view").select(key.as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_b"))
      a.join(b.withColumnRenamed("k", "__bk"), col("k") <=> col("__bk"), "left")
        .select(col("k"), col("n_a"), coalesce(col("n_b"), lit(0L)).as("n_b"))
    }),

    // Time-series resample + forward fill: each user's irregular event
    // stream becomes a regular HOURLY grid carrying the latest value
    // at-or-before each grid instant (the metrics/feature-store
    // primitive). Grid = per-key sequence() explode (never a global-
    // calendar cross join); fill = one last-ignoreNulls running window
    // over events ∪ grid; ≤2 exchanges, no join (PlanSpec). A bucket
    // before the key's first event fills NULL in both engines.
    "q144_resample_ffill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          cents(col("value")).as("v_cents"))
      graft.operators.Resample.forwardFill(ev, "user_id", "ts", "event_id",
          "v_cents", stepSec = 3600L)
        .select(col("user_id"),
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("bucket_ts"),
          col("v_cents"))
    }),

    // Linear-interpolation resample (q144's smoother sibling — the
    // sensor/metrics read where a gap should slope, not step): each
    // grid value interpolates between the surrounding events; tail
    // forward-fills, head is NULL. Arithmetic is engine-exact: int64
    // slope numerator, ONE binary64 division, explicit FLOOR (negative
    // slopes round down identically in Spark and DuckDB).
    "q147_resample_interp" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          cents(col("value")).as("v_cents"))
      graft.operators.Resample.interpolate(ev, "user_id", "ts", "event_id",
          "v_cents", stepSec = 3600L)
        .select(col("user_id"),
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("bucket_ts"),
          col("v_cents"))
    }),

    // UNPIVOT / melt — q75's inverse, completing the reshape pair: the
    // per-user event-type count matrix folds back to long form (one
    // row per (user, type), zeros kept). Map-side Expand only — wide→
    // long never shuffles; the prefix strip makes the variable column
    // carry the clean type name in both engines.
    "q148_unpivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      val wide = p.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      wide.unpivot(
          Array(col("user_id")),
          types.map(t => col(s"n_$t")).toArray,
          "event_type", "n_events")
        .withColumn("event_type", expr("substring(event_type, 3)"))
    }),

    // Fuzzy entity matching (record linkage): noisy name strings match
    // their canonical entity by minimum edit distance — the "map messy
    // source names onto the reference table" curation step. The
    // canonical side BROADCASTS (it is dimension-sized by definition)
    // and the argmin is one window over the probe key with the
    // bit-stable (distance, name) tie order; levenshtein is the same
    // classic definition in both engines. Probes are nations corrupted
    // deterministically (drop the 2nd char, append 'X'), so every probe
    // has a known right answer and a wrong argmin hash-mismatches.
    "q149_fuzzy_match" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nations = Tables.nation(s, dir).select(col("n_name"))
      val noisy = nations.select(concat(
        substring(col("n_name"), 1, 1),
        substring(col("n_name"), 3, 100),
        lit("X")).as("noisy_name"))
      val scored = noisy.crossJoin(broadcast(nations))
        .withColumn("d", levenshtein(col("noisy_name"), col("n_name")).cast("long"))
      val w = Window.partitionBy(col("noisy_name"))
        .orderBy(col("d").asc, col("n_name").asc)
      scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("noisy_name"), col("n_name").as("matched_name"), col("d"))
    }),

    // Star-schema analytic join (the TPC-H Q5 shape — THE reporting
    // query a warehouse deployment runs first): two FACTS meet in the
    // plan's only shuffle-worthy join (lineitem ⋈ orders on orderkey;
    // at 100 TB that is a sort-merge both sides of which shuffle once),
    // while the customer→nation→region dimension chain folds into ONE
    // broadcast probe — region filter applied dim-side so pruning
    // happens before the fact ever sees the join. Revenue stays exact
    // integer cents end to end.
    "q150_star_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .select(col("l_orderkey"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      val dim = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)
            .filter(col("r_name").isin("EUROPE", "ASIA"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"), col("o_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("rev_cents")).as("revenue_cents"))
    }),

    // Declarative data-quality constraint report (operators/Quality):
    // every scan constraint — row count, null counts, exact distinct,
    // violation predicates — in ONE pass (single aggregate row melted
    // by a literal explode), FK orphans via broadcast anti-join. The
    // fixture plants every failure mode: derived nulls (pr/tp), a
    // non-key column checked unique (o_orderpriority, fails), a
    // thinned dimension (every 3rd customer dropped → orphans).
    "q151_quality_report" -> ((s, dir) => {
      val t = derivedNullOrders(s, dir)
      graft.operators.Quality.report(t,
        notNull = Seq("pr", "tp"),
        unique = Seq("o_orderkey", "o_orderpriority"),
        violations = Seq("nonpositive_total" -> (col("tp") <= 0)),
        fks = Seq(("o_custkey",
          Tables.customer(s, dir).filter(col("c_custkey") % 3 =!= 0),
          "c_custkey")))
    }),

    // Event-type Markov transition matrix (the sequence-mining /
    // next-action model behind funnels and journey prediction): per-user
    // bigrams from one lag window, then corpus transition counts +
    // row-normalized probabilities in integer ppm. Three keyed
    // exchanges (user → bigram → row-margin), zero joins, no doubles.
    "q152_markov_chain" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val bi = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      bi.withColumn("row_total",
          sum(col("n")).over(Window.partitionBy(col("prev_type"))))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("(n * 1000000) div row_total").as("ppm"))
    }),

    // Per-group z-score outlier counts with EXACT integer arithmetic:
    // (n·x − S)² > 9·(n·S2 − S²) is |x − μ| > 3σ with both sides scaled
    // by n² — no division, no sqrt, no engine-ordered double sums. The
    // quadratics run in decimal(38,0) (DuckDB: HUGEINT): at 1e9-row
    // groups the int64 forms overflow exactly where ANSI mode would
    // throw (the q127 lesson), so the wide type IS the scale story.
    "q153_outliers" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      val d = "decimal(38,0)"
      val st = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), cents(col("value")).as("x"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s1", sum(col("x")).over(w))
        .withColumn("s2", sum(col("x") * col("x")).over(w))
      val (n, s1, s2, x) =
        (col("n").cast(d), col("s1").cast(d), col("s2").cast(d), col("x").cast(d))
      val dev = n * x - s1
      val varScaled = n * s2 - s1 * s1 // n²·σ², population
      val isOut = col("n") >= 2 && varScaled > 0 && dev * dev > lit(9).cast(d) * varScaled
      st.withColumn("o", isOut)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("o"), lit(1))).as("n_outliers"))
    }),

    // Equi-width histogram (the profiling/binning primitive): global
    // min/max from one single-row aggregate that BROADCASTS back over
    // the scan (never a driver collect), bucket index by exact integer
    // arithmetic — ((c−lo)·20) div (hi−lo+1) lands in [0,20) with no
    // float edge cases at the bucket boundaries.
    "q154_histogram" -> ((s, dir) => {
      val t = Tables.orders(s, dir).select(cents(col("o_totalprice")).as("c"))
      val mm = t.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
      t.crossJoin(broadcast(mm))
        .withColumn("bucket", expr("((c - lo) * 20) div (hi - lo + 1)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
    }),

    // Nearest-in-time join (pandas merge_asof direction='nearest'): the
    // sensor-alignment read — each event matched to the closest
    // snapshot either side within 30 minutes, ties toward the earlier
    // snapshot. Same merged-stream plan as the as-of join, both scan
    // directions over ONE key shuffle; the snapshot side is
    // deduplicated per (user, ts) first (the operator's uniqueness
    // contract — equal-ts right rows are ambiguous in any engine).
    "q156_nearest_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val pts = ev.select(col("event_id"), col("user_id"), col("ts"))
      val snaps = ev.filter(col("event_id") % 20 === 3)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id") + 5000000L).as("snap_id"))
      AsOfJoin.nearest(pts, snaps, "user_id", "ts", Seq("snap_id"),
          toleranceMicros = 30L * 60 * 1000000L)
        .select(col("event_id"), col("user_id"), col("snap_id"),
          col("__dist_us").as("dist_us"))
    }),

    // Top-k unshipped-order revenue (the TPC-H Q3 shape): broadcast
    // customer filter → fact-fact join → per-order aggregate →
    // GLOBAL top-10 via TakeOrdered (a k-row driver result, never a
    // global sort — the plan a 100 TB "top revenue" board needs).
    // The order is TOTAL (revenue desc, orderkey asc) so rank-10 ties
    // are bit-stable in both engines.
    "q160_top_unshipped" -> ((s, dir) => {
      val cutoff = lit("1998-06-30").cast("timestamp")
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .agg(sum(col("rev")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Equi-DEPTH histogram (q154's quantile complement — equal COUNTS
    // per bucket, data-driven edges) with EXACT boundaries computed the
    // way that survives near-unique money values at 100 TB: a global
    // distinct-value window would funnel ~every row through ONE task,
    // so the quartiles come from the PARALLEL global ranking machinery
    // instead (StableIds: range partition + local sort + offset
    // prefix-sum — the q80 plan, no single-partition stage). The value
    // at rank ceil(q·N) IS the smallest c with cum-count ≥ q·N, so the
    // oracle's cumulative-walk definition is unchanged. Boundaries
    // (3 rows) broadcast back over the scan; bucket membership is pure
    // integer comparisons.
    "q161_equi_depth" -> ((s, dir) => {
      val t = Tables.orders(s, dir).select(cents(col("o_totalprice")).as("c"))
      val ranked = StableIds.byKey(t, numPartitions = 8, col("c"))
      val total = t.agg(count(lit(1)).as("total"))
      // ceil targets in INTEGER arithmetic (`div`, never `/` — the
      // Column `/` is true division through double)
      val (r1, r2, r3) = (expr("(total + 3) div 4"),
        expr("(total + 1) div 2"), expr("(total * 3 + 3) div 4"))
      val bounds = ranked.crossJoin(broadcast(total))
        .filter(col("global_id") === r1 || col("global_id") === r2 ||
          col("global_id") === r3)
        .agg(
          min(when(col("global_id") === r1, col("c"))).as("q1"),
          min(when(col("global_id") === r2, col("c"))).as("q2"),
          min(when(col("global_id") === r3, col("c"))).as("q3"))
      t.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          (col("c") > col("q1")).cast("long") +
          (col("c") > col("q2")).cast("long") +
          (col("c") > col("q3")).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
    }),

    // The pure-SQL surface end to end: a user who writes spark.sql(...)
    // — not the DataFrame API — gets the SAME engine, including the
    // custom codegen expressions, which GraftExtensions registers as
    // real SQL functions (an analyzer-level FunctionRegistry entry, not
    // a UDF). One statement exercises a native scalar (md5_prefix32),
    // the native Morton key (zorder64) and a window, all inside
    // whole-stage codegen; DuckDB replays every bit.
    "q167_sql_surface" -> ((s, dir) => {
      graft.functions.GraftExtensions.install(s)
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderkey,
          md5_prefix32(CAST(o_orderkey AS STRING)) AS h,
          zorder64(o_custkey, o_orderkey) AS z,
          CAST(row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY o_orderkey) AS BIGINT) AS rn
        FROM orders_v""")
    }),

    // Contiguous global row ids in key order WITHOUT the Exchange
    // SinglePartition the naive row_number()-over-ORDER-BY window plans
    // (PlanSpec pins that absence): range partition + local sort +
    // per-partition offset arithmetic — every stage parallel.
    "q80_stable_ids" -> ((s, dir) =>
      StableIds.byKey(
        Tables.orders(s, dir).select(col("o_orderkey")),
        numPartitions = 8, col("o_orderkey"))),

    // SCD-2 validity-window lookup as a grid-bucketed EQUI-join (never a
    // range nested-loop — PlanSpec pins that). Fixture: every 20th event
    // opens a 2-hour window on its user; overlaps multi-match, gaps drop.
    "q85_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val pts = ev.select(col("event_id"), col("user_id"), col("ts"))
      val iv = ev.filter(col("event_id") % 20 === 0)
        .select((col("event_id") + 1000000L).as("interval_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      IntervalJoin.byGrid(pts, iv, "user_id", "ts", "start_ts", "end_ts",
          cellMicros = 3600L * 1000000L, rightCols = Seq("interval_id"))
        .select(col("event_id"), col("user_id"), col("interval_id"))
    }),

    // Morton (z-order) layout key: sorting a write by this one column
    // co-locates rows close in BOTH dimensions, tightening per-file
    // min/max stats on both — the lakehouse multi-column clustering
    // trick. Gate hashes every interleaved value against the oracle's
    // arithmetic bit expansion.
    "q86_zorder_key" -> ((s, dir) =>
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        graft.functions.ZOrder64(col("o_custkey"), col("o_orderkey")).as("zval"))),

    // Broadcast interval join — the dimension-sized SCD-2 case: per-key
    // interval arrays broadcast; the big point side never shuffles
    // (PlanSpec pins that). Same fixture and oracle as q85.
    "q96_interval_broadcast" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val pts = ev.select(col("event_id"), col("user_id"), col("ts"))
      val iv = ev.filter(col("event_id") % 20 === 0)
        .select((col("event_id") + 1000000L).as("interval_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      IntervalJoin.broadcastByKey(pts, iv, "user_id", "ts", "start_ts", "end_ts",
          rightCols = Seq("interval_id"))
        .select(col("event_id"), col("user_id"), col("interval_id"))
    }),

    // SCD-2 history build — the producer of q85's interval side: the
    // event stream becomes per-user validity windows (half-open, gap-free
    // tiling; open current row; last-writer-wins on equal timestamps).
    // One hash shuffle on the key; both window passes share it. Validity
    // bounds surface as epoch micros (the no-raw-timestamp contract).
    "q88_scd2_build" -> ((s, dir) =>
      Scd2.build(
          Tables.events(s, dir)
            .select(col("user_id"), col("ts"), col("event_type"), col("event_id")),
          "user_id", "ts", Seq("event_type"), "event_id")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("version"), col("is_current"))),

    // Set operations, both semantics: INTERSECT/EXCEPT (set — Spark
    // plans distinct + semi/anti join) and INTERSECT ALL/EXCEPT ALL
    // (multiset — count-matching via the doubled left side, where the
    // two diverge: one surviving copy of each matched row, two of each
    // unmatched). All four shuffle only on the compared row hash.
    "q119_set_ops" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val a = d.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("source"))
      val b = d.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("source"))
      val a2 = a.unionByName(a)
      a.intersect(b).withColumn("op", lit("intersect"))
        .unionByName(a.except(b).withColumn("op", lit("except")))
        .unionByName(a2.intersectAll(b).withColumn("op", lit("intersect_all")))
        .unionByName(a2.exceptAll(b).withColumn("op", lit("except_all")))
    }),

    // Ordered conversion funnel: per user, the first 'view', the first
    // 'click' strictly after it, the first 'purchase' strictly after
    // that — reported as users-reaching-stage counts. ONE shuffle: the
    // per-user event list is sort_array'd (ts, event_id — total order)
    // and folded by a codegen'd `aggregate` lambda, so the sequence
    // match is a deterministic per-group projection, never a per-stage
    // join cascade (3 extra event shuffles at 100 TB). Per-user array
    // size is bounded by per-user activity; a mega-user outlier would
    // use the two-pass join form instead — stated trade.
    "q117_funnel" -> ((s, dir) => {
      val MAX = Long.MaxValue
      // every-29th-event slice: sparse enough that users spread over
      // all four stages (74/41/9/4 at sf0.01) instead of all converting
      val ev = Tables.events(s, dir).filter(col("event_id") % 29 === 0)
        .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          col("event_type").as("et")).as("__e"))
      ev.groupBy(col("user_id")).agg(sort_array(collect_list(col("__e"))).as("__es"))
        .withColumn("__f", expr(
          s"""aggregate(__es,
             |  named_struct('t1', ${MAX}L, 't2', ${MAX}L, 't3', ${MAX}L),
             |  (a, x) -> named_struct(
             |    't1', IF(a.t1 = ${MAX}L AND x.et = 'view', x.us, a.t1),
             |    't2', IF(a.t1 < ${MAX}L AND a.t2 = ${MAX}L
             |             AND x.et = 'click' AND x.us > a.t1, x.us, a.t2),
             |    't3', IF(a.t2 < ${MAX}L AND a.t3 = ${MAX}L
             |             AND x.et = 'purchase' AND x.us > a.t2, x.us, a.t3)))
             |""".stripMargin))
        .select(when(col("__f.t3") =!= MAX, 3)
          .when(col("__f.t2") =!= MAX, 2)
          .when(col("__f.t1") =!= MAX, 1)
          .otherwise(0).as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
    }),

    // Hopping (sliding) window aggregation: 1-hour windows every 15
    // minutes — each event lands in exactly 4 windows (map-side
    // explode, epoch-aligned starts), then ONE hash aggregate on
    // (window, type). q40's tumbling windows are the slide==size
    // special case; the hop factor (size/slide) is the fan-out a
    // cluster job budgets for. Exact-cents sums; window bounds surface
    // as epoch micros (the no-raw-timestamp contract).
    "q114_hopping_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("sum_cents"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n_events"), col("sum_cents"))),

    // Hopping-window DISTINCT users (q114's harder sibling — the live
    // "active users per sliding hour" board): count(DISTINCT) is not
    // algebraic, so Catalyst plans the two-phase Expand dedup —
    // map-side (window, user) dedup first, the heavy fan-out never
    // reaches one reducer. Same 1970-origin slide alignment as q114.
    "q158_hopping_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("n_users"), col("n_events"))),

    // "Correlated subquery" decorrelated to a WINDOW (the TPC-H Q17
    // shape: lineitems below 20% of their part's average quantity):
    // the textbook form re-joins the fact to its own per-part
    // aggregate — two scans + a self-join shuffle; the window form
    // computes the per-part sums in place over ONE part-keyed exchange
    // and never joins. The 0.2·avg comparison is exact integers:
    // q < S/(5n) ⟺ 5·q·n < S — no division, no doubles.
    "q157_below_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_partkey"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_returnflag"),
          cents(col("l_quantity")).as("q"),
          cents(col("l_extendedprice")).as("p"))
        .withColumn("s", sum(col("q")).over(w))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("q") * 5 * col("n") < col("s"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_small"),
          sum(col("p")).as("sum_price_cents"))
    }),

    // Schema-on-read JSON extraction: the event payload column parsed
    // with an EXPLICIT schema (from_json → codegen'd JsonToStructs, a
    // per-row projection — never schema inference, which is a full
    // pre-scan at 100 TB and unstable under drift). Malformed payloads
    // (injected on every 13th event — leading garbage; Jackson tolerates
    // TRAILING bytes after a closed object) must yield NULL fields,
    // never a job failure: the gate counts parsed-vs-total per type so
    // a parser that crashed, skipped, or mis-nulled shows up in three
    // columns at once.
    "q112_json_extract" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        when(col("event_id") % 13 === 0, concat(lit("x"), col("props")))
          .otherwise(col("props")).as("props"))
      ev.withColumn("__p", from_json(col("props"), lit("k BIGINT")))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count(col("__p.k")).as("n_parsed"),
          sum(col("__p.k")).as("sum_k"),
          min(col("__p.k")).as("min_k"),
          max(col("__p.k")).as("max_k"))
    }),

    // The skew loop end-to-end on data where it MATTERS (q141 runs it
    // on near-uniform events; this runs it on a genuinely hot-keyed
    // input): 80% of lineitem rows collapse onto 3 keys — each hot
    // group is ~27% of the table, the single-giant-key-group shape a
    // plain hash aggregate funnels through one reducer's merge and AQE
    // cannot pre-split. The loop closes sketch-first: count-min prices
    // the skew without touching data twice, heavyKeyBound one-sides
    // the hottest key, saltsForBound sizes the mitigation (pinned > 1
    // here — on THIS input the loop must actually engage), and the
    // two-phase salted aggregate answers. Salt placement cannot change
    // a decomposable aggregate, so the oracle is the plain group-by
    // (the q124/q127/q141 boolean-pin pattern). Derived key is integer
    // arithmetic only — identical in Spark and DuckDB at any sf.
    "q195_zipf_salted" -> ((s, dir) => {
      import graft.operators.{Sketches, Skew}
      val li = Tables.lineitem(s, dir).select(
        when(pmod(col("l_orderkey"), lit(5L)) < 4,
            pmod(col("l_orderkey"), lit(3L)))
          .otherwise(lit(3L) + pmod(col("l_orderkey"), lit(9973L)))
          .as("skew_key"),
        cents(col("l_quantity")).as("q"))
      val sketch = Sketches.countMin(li, "skew_key", depth = 4, width = 1024)
      val bound = Skew.heavyKeyBound(sketch)
      val salts = Skew.saltsForBound(bound, targetRowsPerReducer = 1000L)
      val agg = Skew.saltedAggregate(li, Seq("skew_key"),
        Seq(Skew.SaltedCount("n_rows"), Skew.SaltedSum("q", "sum_qty_cents"),
          Skew.SaltedMin("q", "min_qty_cents"),
          Skew.SaltedMax("q", "max_qty_cents")),
        numSalts = salts)
      val maxExact = li.groupBy(col("skew_key")).agg(count(lit(1)).as("__c"))
        .agg(max(col("__c")).as("__mx"))
      agg.crossJoin(broadcast(maxExact))
        .select(col("skew_key"), col("n_rows"), col("sum_qty_cents"),
          col("min_qty_cents"), col("max_qty_cents"),
          (lit(bound) >= col("__mx")).as("bound_one_sided_ok"),
          lit(salts > 1 && salts <= 256).as("salts_multi"))
    }),

    // ONE-CALL join pre-flight (VERDICT r19 item 5): the pieces q127
    // (CM join-size bound), q141 (heavy-key bound → salt factor) and
    // the F2 self-estimate compose into a single Skew.joinPreflight
    // report — size bound, per-side skew measure, per-side heavy-key
    // bound, recommended salt factor — from two depth×width sketches,
    // nothing data-sized shuffled. The gate measures every bound's
    // one-sidedness against the exact values (events ⋈ orders on the
    // user/customer key) and pins that the salt recommendation both
    // covers the exact need and actually engaged (≥2 — events' hot
    // user exceeds the 25-row target at every sf; per-key frequency
    // is scale-stable under GenScale's shifted-key replication).
    "q197_join_preflight" -> ((s, dir) => {
      import graft.operators.Skew
      val ev = Tables.events(s, dir).select(col("user_id"))
      val ord = Tables.orders(s, dir).select(col("o_custkey").as("user_id"))
      val pf = Skew.joinPreflight(ev, ord, "user_id", depth = 4, width = 2048,
        targetRowsPerReducer = 25L)
      val fL = ev.groupBy(col("user_id")).agg(count(lit(1)).as("cl"))
      val fR = ord.groupBy(col("user_id")).agg(count(lit(1)).as("cr"))
      val exact = fL.join(fR, Seq("user_id"))
        .agg(coalesce(sum(col("cl") * col("cr")), lit(0L)).as("exact_join_rows"))
      val exL = fL.agg(sum(col("cl") * col("cl")).as("exact_f2_left"),
        max(col("cl")).as("__mxl"))
      val exR = fR.agg(sum(col("cr") * col("cr")).as("exact_f2_right"),
        max(col("cr")).as("__mxr"))
      pf.crossJoin(broadcast(exact))
        .crossJoin(broadcast(exL))
        .crossJoin(broadcast(exR))
        .select(col("exact_join_rows"), col("exact_f2_left"), col("exact_f2_right"),
          (col("join_size_est") >= col("exact_join_rows")).as("join_one_sided_ok"),
          (col("left_f2_est") >= col("exact_f2_left")).as("f2_left_ok"),
          (col("right_f2_est") >= col("exact_f2_right")).as("f2_right_ok"),
          (col("left_heavy_bound") >= col("__mxl")).as("left_bound_ok"),
          (col("right_heavy_bound") >= col("__mxr")).as("right_bound_ok"),
          // the recommendation covers the exact need (one-sided bound →
          // monotone formula; both sides of the clamp compare equal)
          (col("salts_left").cast("long") >=
            expr("least(256L, (__mxl + 24L) div 25L)")).as("salts_cover"),
          (col("salts_left") >= 2).as("salts_multi"))
    })
  )

  /** Shared derived-null input: testdata has no nulls, so P2/A3 queries
    * inject them deterministically (priority '1-URGENT' and totalprice <
    * 1000 become NULL) — mirrored exactly in the oracle SQL.
    */
  private def derivedNullOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
      when(col("o_orderpriority") === "1-URGENT", lit(null)).otherwise(col("o_orderpriority")).as("pr"),
      when(col("o_totalprice") < 1000, lit(null)).otherwise(col("o_totalprice")).as("tp"))

  // ---------------------------------------------------------------- oracles

  private val intervalJoinOracleSql =
    """WITH pts AS (SELECT event_id, user_id, ts FROM events),
      |iv AS (SELECT event_id + 1000000 AS interval_id, user_id,
      |    ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
      |  FROM events WHERE event_id % 20 = 0)
      |SELECT p.event_id, p.user_id, i.interval_id
      |FROM pts p JOIN iv i ON p.user_id = i.user_id
      |  AND i.start_ts <= p.ts AND p.ts < i.end_ts""".stripMargin

  private val derivedNullSql =
    """SELECT o_orderkey, o_custkey, o_orderpriority,
      |  CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_orderpriority END AS pr,
      |  CASE WHEN o_totalprice < 1000 THEN NULL ELSE o_totalprice END AS tp
      |FROM orders""".stripMargin

  val oracles: Map[String, String] = Map(
    "q01_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_qty,
        |  SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_base_price,
        |  SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_disc_price,
        |  COUNT(*) AS count_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_discount > 0.05""".stripMargin,

    "q03_notnull_good" ->
      s"WITH t AS ($derivedNullSql) SELECT * FROM t WHERE pr IS NOT NULL AND tp IS NOT NULL",

    "q04_notnull_rejects" ->
      s"WITH t AS ($derivedNullSql) SELECT * FROM t WHERE NOT (pr IS NOT NULL AND tp IS NOT NULL)",

    "q05_empty_to_null" ->
      """SELECT doc_id,
        |  CASE WHEN l = '' OR l = ' ' THEN NULL ELSE l END AS lang2
        |FROM (SELECT doc_id,
        |        CASE lang WHEN 'en' THEN '' WHEN 'fr' THEN ' ' ELSE lang END AS l
        |      FROM documents)""".stripMargin,

    "q06_broadcast_lookup" ->
      """SELECT s_name, COUNT(*) AS n,
        |  SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
        |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    "q07_missing_keys" ->
      """SELECT DISTINCT l_suppkey FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                  WHERE s.s_suppkey <= 5 AND s.s_suppkey = l.l_suppkey)""".stripMargin,

    "q08_first_ts_enrich" ->
      """WITH fact AS (
        |  SELECT * FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
        |firsts AS (
        |  SELECT o_custkey, MIN(o_orderdate) AS f FROM orders
        |  WHERE o_custkey IN (SELECT o_custkey FROM fact) GROUP BY 1)
        |SELECT fact.o_orderkey, fact.o_custkey, strftime(firsts.f, '%Y-%m-%d') AS first_date
        |FROM fact LEFT JOIN firsts USING (o_custkey)""".stripMargin,

    "q09_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q10_union" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'A'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,

    "q11_keeplast_dedup" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS last_date
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""".stripMargin,

    "q12_dup_capture" ->
      """SELECT o_custkey, o_orderkey FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) > 1""".stripMargin,

    "q13_date_streaks" ->
      """WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
        |g AS (SELECT d, d - CAST(row_number() OVER (ORDER BY d) AS INTEGER) AS grp FROM d)
        |SELECT strftime(MIN(d), '%Y-%m-%d') AS streak_start,
        |       strftime(MAX(d), '%Y-%m-%d') AS streak_end,
        |       CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT) AS n_days
        |FROM g GROUP BY grp""".stripMargin,

    "q14_derive_keys" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_short,
        |  strftime(o_orderdate, '%a') AS week_day,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS week_num,
        |  substr(o_orderpriority, 1, 2) AS corridor,
        |  concat_ws(' - ', strftime(o_orderdate, '%Y-%m-%d'),
        |            CAST(o_orderkey AS VARCHAR), o_orderpriority) AS train_key
        |FROM orders""".stripMargin,

    "q15_midnight_rollover" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |    o_orderdate + INTERVAL 1 HOUR * (o_orderkey % 24) AS ticket,
        |    o_orderdate + INTERVAL 1 HOUR * ((o_orderkey * 7) % 24) AS sched
        |  FROM orders)
        |SELECT o_orderkey,
        |  strftime(CASE WHEN strftime(sched, '%H:%M:%S') > strftime(ticket, '%H:%M:%S')
        |                THEN CAST(ticket AS DATE) - 1 ELSE CAST(ticket AS DATE) END
        |           + CAST(sched AS TIME),
        |           '%Y-%m-%d %H:%M') AS train_departure
        |FROM t""".stripMargin,

    "q16_service_date" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |    o_orderdate + INTERVAL 1 HOUR * (o_orderkey % 24) AS ticket
        |  FROM orders)
        |SELECT o_orderkey,
        |  strftime(CASE WHEN strftime(ticket, '%H:%M:%S') <= '05:00:00'
        |                THEN CAST(ticket AS DATE) - 1 ELSE CAST(ticket AS DATE) END,
        |           '%Y-%m-%d') AS service_date
        |FROM t""".stripMargin,

    "q17_phone_clean" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    concat('+', CAST(c_nationkey AS VARCHAR)) AS prefix,
        |    concat('+', CAST(c_nationkey AS VARCHAR), '-',
        |           CAST(c_custkey * 7919 AS VARCHAR), '-',
        |           CAST(c_custkey AS VARCHAR)) AS tel
        |  FROM customer)
        |SELECT c_custkey,
        |  substr(replace(CASE WHEN starts_with(tel, prefix)
        |                      THEN substr(tel, length(prefix) + 1) ELSE tel END,
        |                 '-', ''), 1, 14) AS telephone
        |FROM t""".stripMargin,

    "q18_vat_grossup" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT) * 115 / 1000000.0 AS tax_grossed
        |FROM lineitem""".stripMargin,

    "q19_audit_counts" ->
      s"""WITH t AS ($derivedNullSql)
         |SELECT o_orderpriority, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN pr IS NULL OR tp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rejects
         |FROM t GROUP BY 1""".stripMargin,

    "q20_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q27_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  COUNT(*) AS n_rows,
        |  MIN(l_orderkey) AS min_key,
        |  MAX(l_orderkey) AS max_key
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q28_salted_join" ->
      """SELECT l_suppkey AS s_suppkey, l_orderkey, l_linenumber, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,

    // The PLAIN join is the spec: the bloom pre-filter must be
    // semantically invisible (false positives re-checked, no false
    // negatives possible).
    "q129_bloom_join_reduce" ->
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey < 3
        |GROUP BY 1""".stripMargin,

    "q29_heavy_hitters" ->
      """WITH b AS (SELECT l_suppkey % 13 AS bucket FROM lineitem),
        |t AS (SELECT CAST(CEIL(COUNT(*) * 0.07) AS BIGINT) AS thr FROM b)
        |SELECT bucket, COUNT(*) AS cnt FROM b
        |GROUP BY 1 HAVING COUNT(*) >= (SELECT thr FROM t)""".stripMargin,

    // Estimates are hash-dependent; the oracle pins the exact counts
    // and the calibration booleans (the q106 pattern).
    "q124_cms_calibration" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt,
        |  TRUE AS one_sided_ok, TRUE AS within_bound
        |FROM events GROUP BY 1""".stripMargin,

    // Counter placement is xxhash64-dependent; the oracle pins the
    // per-hash-row totals (= |events| exactly) and the merge-equality
    // booleans (the q124 pattern). range(4) = the pinned sketch depth.
    "q126_cms_merge_shards" ->
      """SELECT CAST(t.r AS INTEGER) AS r, TRUE AS all_counters_equal,
        |  CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS row_total
        |FROM range(4) t(r)""".stripMargin,

    // Estimates are xxhash64-placed; the oracle pins the exact
    // self-join size and the calibration booleans (the q124 pattern).
    "q127_join_size_preflight" ->
      """SELECT CAST(SUM(c * c) AS BIGINT) AS exact_join_rows,
        |  TRUE AS one_sided_ok, TRUE AS within_bound
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
        |      FROM events GROUP BY user_id)""".stripMargin,

    // Salt placement is xxhash64-dependent and cannot affect the
    // result; the oracle pins the plain group-by plus the booleans
    // (the q124/q127 pattern).
    "q141_auto_salt" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS bound_one_sided_ok, TRUE AS salts_sized
        |FROM events GROUP BY 1""".stripMargin,

    // Salt placement cannot change a decomposable aggregate; the
    // oracle is the plain group-by over the same integer-derived hot
    // key, plus the pinned loop booleans (the q141 pattern — but the
    // salts_multi pin means the mitigation actually ENGAGED here).
    "q195_zipf_salted" ->
      """SELECT CASE WHEN l_orderkey % 5 < 4 THEN l_orderkey % 3
        |    ELSE 3 + l_orderkey % 9973 END AS skew_key,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(MIN(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_qty_cents,
        |  CAST(MAX(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_qty_cents,
        |  TRUE AS bound_one_sided_ok, TRUE AS salts_multi
        |FROM lineitem GROUP BY 1""".stripMargin,

    // Estimates and salt placement are xxhash64-dependent; the oracle
    // pins the exact join size / per-side F2 and the one-sidedness +
    // coverage booleans (the q127/q141 pattern composed).
    "q197_join_preflight" ->
      """WITH fl AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM events GROUP BY 1),
        |  fr AS (SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM orders GROUP BY 1)
        |SELECT
        |  (SELECT CAST(COALESCE(SUM(fl.c * fr.c), 0) AS BIGINT)
        |     FROM fl JOIN fr USING (user_id)) AS exact_join_rows,
        |  (SELECT CAST(SUM(c * c) AS BIGINT) FROM fl) AS exact_f2_left,
        |  (SELECT CAST(SUM(c * c) AS BIGINT) FROM fr) AS exact_f2_right,
        |  TRUE AS join_one_sided_ok, TRUE AS f2_left_ok, TRUE AS f2_right_ok,
        |  TRUE AS left_bound_ok, TRUE AS right_bound_ok,
        |  TRUE AS salts_cover, TRUE AS salts_multi""".stripMargin,

    // The TEXTBOOK correlated form — the decorrelated Spark plan must
    // reproduce it exactly (Q21's semantics pin).
    "q183_sole_returner" ->
      """WITH l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_returnflag = 'R')
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    // Same rank-based lower medians, same (value, day) tie order, same
    // 3·MAD fence — all integer, so the replay is exact.
    "q179_volume_outliers" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |md AS (SELECT event_type, n AS med FROM (
        |    SELECT event_type, n,
        |      row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM d)
        |  WHERE rn = (cnt + 1) // 2),
        |dev AS (SELECT d.event_type, d.day, d.n, md.med, abs(d.n - md.med) AS ad
        |  FROM d JOIN md USING (event_type)),
        |mad AS (SELECT event_type, ad AS mad FROM (
        |    SELECT event_type, ad, day,
        |      row_number() OVER (PARTITION BY event_type ORDER BY ad, day) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM dev)
        |  WHERE rn = (cnt + 1) // 2)
        |SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(dev.med) AS BIGINT) AS med, CAST(MAX(mad.mad) AS BIGINT) AS mad,
        |  CAST(SUM(CASE WHEN dev.ad > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type) GROUP BY 1""".stripMargin,

    // Same lag-gap derivation in epoch days; SUM over the null first-row
    // gap needs no special case (CASE WHEN NULL > 1 is false).
    "q180_ingest_gaps" ->
      """WITH d AS (SELECT DISTINCT event_type, epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT event_type, day,
        |    day - lag(day) OVER (PARTITION BY event_type ORDER BY day) AS gap
        |  FROM d)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS span_days,
        |  CAST(MAX(day) - MIN(day) + 1 - COUNT(*) AS BIGINT) AS n_missing,
        |  CAST(SUM(CASE WHEN gap > 1 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_runs,
        |  CAST(COALESCE(MAX(GREATEST(gap - 1, 0)), 0) AS BIGINT) AS max_gap
        |FROM g GROUP BY 1""".stripMargin,

    // Same lag/lead derivation; churn lands on week w+1.
    "q193_growth_accounting" ->
      """WITH wkt AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next
        |  FROM wkt),
        |states AS (SELECT wk, CASE WHEN prev IS NULL THEN 'new'
        |    WHEN prev = wk - 1 THEN 'retained' ELSE 'resurrected' END AS cls
        |  FROM l
        |  UNION ALL
        |  SELECT wk + 1 AS wk, 'churned' AS cls FROM l
        |  WHERE next IS NULL OR next > wk + 1)
        |SELECT wk,
        |  CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        |  CAST(SUM(CASE WHEN cls = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
        |FROM states GROUP BY 1""".stripMargin,

    // Retraction ≡ recompute over the complement (the spec). The
    // complement keeps NULL event_ids (never retracted on either side).
    "q191_rollup_retract" ->
      """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id % 7 <> 0 OR event_id IS NULL
        |GROUP BY 1, 2""".stripMargin,

    // The FULL recompute is the spec: merged algebraic state must be
    // indistinguishable from aggregating the raw union.
    "q133_incremental_rollup" ->
      """SELECT user_id, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events GROUP BY 1, 2""".stripMargin,

    // STRING_AGG ORDER BY (ts, event_id) ≡ Spark's array_sort over
    // (us, event_id, type) structs — the same total order, so path
    // strings are byte-identical. 30-min gap strict-> on both engines.
    "q130_session_paths" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM e),
        |p AS (SELECT user_id, sid,
        |  STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    // Integer epoch-week division on both engines (// is DuckDB integer
    // div); COUNT(DISTINCT user) ≡ Spark's per-user collect_set explode.
    "q131_retention_cohorts" ->
      """WITH w AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM w GROUP BY 1)
        |SELECT f.cohort_wk, w.wk - f.cohort_wk AS wk_offset,
        |  CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
        |FROM w JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // Same (n_chars DESC, doc_id ASC) window order on both engines; the
    // dropped count is the cell size minus the cap, floored at zero.
    "q132_source_cap" ->
      """WITH r AS (SELECT doc_id, source, lang, n_chars,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source, lang
        |    ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank,
        |  CAST(GREATEST(COUNT(*) OVER (PARTITION BY source, lang) - 5, 0)
        |    AS BIGINT) AS n_dropped
        |  FROM documents)
        |SELECT doc_id, source, lang, n_chars, rank, n_dropped
        |FROM r WHERE rank <= 5""".stripMargin,

    // INTERVAL 1 HOUR over native ts ≡ Spark's [-3.6e9, 0] microsecond
    // range frame (both inclusive, peers included on both engines).
    "q74_rolling_window" ->
      """SELECT event_id, user_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_hour,
        |  CAST(SUM(v) OVER w AS BIGINT) AS sum_cents_hour
        |FROM (SELECT event_id, user_id, ts,
        |        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin,

    "q75_pivot" ->
      """SELECT user_id,
        |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
        |FROM events GROUP BY 1""".stripMargin,

    // GROUPING(a, b) bit order (first arg most significant) matches
    // Spark's grouping_id() for cube(a, b).
    "q76_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    // GROUPING(a, b) bit order matches Spark's grouping_id() (q76's law)
    // for rollup and explicit grouping sets alike.
    "q135_rollup" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(GROUPING(n_name, o_year) AS BIGINT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_year)""".stripMargin,

    "q136_grouping_sets" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(GROUPING(n_name, o_year) AS BIGINT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (o_year), ())""".stripMargin,

    "q80_stable_ids" ->
      """SELECT o_orderkey,
        |  CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS global_id
        |FROM orders""".stripMargin,

    // The oracle rebuilds the same union+window fill (grid rows sort
    // after events at the same instant; event ties break by id).
    "q144_resample_ffill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, 0 AS grid,
        |    event_id AS id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT user_id, MIN(us) - MIN(us) % 3600000000 AS lo,
        |    MAX(us) - MAX(us) % 3600000000 AS hi FROM e GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS us,
        |    1 AS grid, 9223372036854775807 AS id, CAST(NULL AS BIGINT) AS v
        |  FROM b),
        |u AS (SELECT * FROM e UNION ALL BY NAME SELECT * FROM g),
        |f AS (SELECT *, last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY us, grid, id
        |    ROWS UNBOUNDED PRECEDING) AS fill FROM u)
        |SELECT user_id,
        |  strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
        |  fill AS v_cents
        |FROM f WHERE grid = 1""".stripMargin,

    // Mirror of the Spark fill: prev = last at-or-before (ties high id),
    // next = closest strictly-after (ties low id via the DESC scan),
    // same int64 numerator / binary64 division / FLOOR.
    "q147_resample_interp" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, 0 AS grid,
        |    event_id AS id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT user_id, MIN(us) - MIN(us) % 3600000000 AS lo,
        |    MAX(us) - MAX(us) % 3600000000 AS hi FROM e GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS us,
        |    1 AS grid, 9223372036854775807 AS id, CAST(NULL AS BIGINT) AS v
        |  FROM b),
        |u AS (SELECT * FROM e UNION ALL BY NAME SELECT * FROM g),
        |f AS (SELECT *,
        |    last_value(CASE WHEN v IS NOT NULL THEN struct_pack(us := us, v := v) END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, grid, id
        |      ROWS UNBOUNDED PRECEDING) AS prev,
        |    last_value(CASE WHEN v IS NOT NULL THEN struct_pack(us := us, v := v) END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us DESC, grid ASC, id DESC
        |      ROWS UNBOUNDED PRECEDING) AS nxt
        |  FROM u)
        |SELECT user_id,
        |  strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
        |  CASE WHEN prev IS NULL THEN NULL
        |       WHEN nxt IS NULL OR nxt.us <= prev.us THEN prev.v
        |       ELSE prev.v + CAST(FLOOR(CAST((nxt.v - prev.v) * (us - prev.us) AS DOUBLE)
        |         / CAST(nxt.us - prev.us AS DOUBLE)) AS BIGINT) END AS v_cents
        |FROM f WHERE grid = 1""".stripMargin,

    // DuckDB's UNPIVOT names the variable after the source column;
    // both engines strip the n_ prefix the same way.
    "q148_unpivot" ->
      """WITH w AS (SELECT user_id,
        |    COUNT(*) FILTER (event_type = 'click') AS n_click,
        |    COUNT(*) FILTER (event_type = 'error') AS n_error,
        |    COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
        |    COUNT(*) FILTER (event_type = 'signup') AS n_signup,
        |    COUNT(*) FILTER (event_type = 'view') AS n_view
        |  FROM events GROUP BY 1),
        |u AS (UNPIVOT w ON n_click, n_error, n_purchase, n_signup, n_view
        |      INTO NAME event_type VALUE n_events)
        |SELECT user_id, substring(event_type, 3) AS event_type,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM u""".stripMargin,

    "q149_fuzzy_match" ->
      """WITH noisy AS (SELECT substring(n_name, 1, 1) ||
        |    substring(n_name, 3) || 'X' AS noisy_name FROM nation),
        |scored AS (SELECT noisy_name, n_name,
        |    CAST(levenshtein(noisy_name, n_name) AS BIGINT) AS d
        |  FROM noisy CROSS JOIN nation),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY noisy_name
        |    ORDER BY d ASC, n_name ASC) AS rk FROM scored)
        |SELECT noisy_name, n_name AS matched_name, d
        |FROM ranked WHERE rk = 1""".stripMargin,

    "q150_star_join" ->
      """SELECT r_name, n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND r_name IN ('EUROPE', 'ASIA')
        |GROUP BY 1, 2, 3""".stripMargin,

    // scalar-subquery replay of the one-pass report, one UNION ALL arm
    // per constraint (arm order is irrelevant — the driver sorts rows)
    "q151_quality_report" ->
      s"""WITH t AS ($derivedNullSql),
        |dim AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 3 <> 0)
        |SELECT 'row_count' AS "constraint",
        |  CAST(COUNT(*) AS BIGINT) AS value, TRUE AS pass FROM t
        |UNION ALL SELECT 'null_count:pr', COUNT(*) FILTER (pr IS NULL),
        |  COUNT(*) FILTER (pr IS NULL) = 0 FROM t
        |UNION ALL SELECT 'null_count:tp', COUNT(*) FILTER (tp IS NULL),
        |  COUNT(*) FILTER (tp IS NULL) = 0 FROM t
        |UNION ALL SELECT 'distinct_count:o_orderkey', COUNT(DISTINCT o_orderkey),
        |  COUNT(DISTINCT o_orderkey) = COUNT(*) FROM t
        |UNION ALL SELECT 'distinct_count:o_orderpriority', COUNT(DISTINCT o_orderpriority),
        |  COUNT(DISTINCT o_orderpriority) = COUNT(*) FROM t
        |UNION ALL SELECT 'violations:nonpositive_total', COUNT(*) FILTER (tp <= 0),
        |  COUNT(*) FILTER (tp <= 0) = 0 FROM t
        |UNION ALL SELECT 'fk_orphans:o_custkey', COUNT(*), COUNT(*) = 0
        |  FROM t WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM dim)""".stripMargin,

    "q152_markov_chain" ->
      """WITH b AS (SELECT
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type,
        |    event_type AS next_type
        |  FROM events),
        |c AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type)
        |    AS BIGINT) AS ppm
        |FROM c""".stripMargin,

    // HUGEINT mirrors Spark's decimal(38,0): both exceed the int64
    // range the quadratics would overflow at 1e9-row groups
    "q153_outliers" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x FROM events),
        |st AS (SELECT user_id, x,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(x) OVER w AS BIGINT) AS s1,
        |    CAST(SUM(x * x) OVER w AS BIGINT) AS s2
        |  FROM e WINDOW w AS (PARTITION BY user_id)),
        |f AS (SELECT user_id,
        |    CASE WHEN n >= 2
        |          AND CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 > 0
        |          AND (CAST(n AS HUGEINT) * x - s1) * (CAST(n AS HUGEINT) * x - s1)
        |              > 9 * (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
        |     THEN 1 ELSE 0 END AS o
        |  FROM st)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(o) AS BIGINT) AS n_outliers
        |FROM f GROUP BY 1""".stripMargin,

    "q154_histogram" ->
      """WITH t AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |m AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM t)
        |SELECT CAST(((c - lo) * 20) // (hi - lo + 1) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(c) AS min_cents, MAX(c) AS max_cents
        |FROM t, m GROUP BY 1""".stripMargin,

    // two-direction window replay of the merged-stream nearest join:
    // prev = last at-or-before (right before left at equal us), next =
    // closest strictly-after (left before right in the DESC scan);
    // chooser ties toward prev, both engines in epoch micros
    "q156_nearest_join" ->
      """WITH l AS (SELECT event_id, user_id, ts, epoch_us(ts) AS us FROM events),
        |r AS (SELECT user_id, epoch_us(ts) AS us,
        |    MAX(event_id + 5000000) AS snap_id
        |  FROM events WHERE event_id % 20 = 3 GROUP BY 1, 2),
        |u AS (SELECT user_id, us, 1 AS side, event_id,
        |    CAST(NULL AS BIGINT) AS snap_id FROM l
        |  UNION ALL
        |  SELECT user_id, us, 0, NULL, snap_id FROM r),
        |f AS (SELECT *,
        |    last_value(CASE WHEN side = 0
        |        THEN struct_pack(t := us, sid := snap_id) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us ASC, side ASC
        |            ROWS UNBOUNDED PRECEDING) AS p,
        |    last_value(CASE WHEN side = 0
        |        THEN struct_pack(t := us, sid := snap_id) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us DESC, side DESC
        |            ROWS UNBOUNDED PRECEDING) AS nx
        |  FROM u),
        |sel AS (SELECT event_id, user_id, us,
        |    CASE WHEN p IS NOT NULL AND (nx IS NULL OR us - p.t <= nx.t - us)
        |         THEN p ELSE nx END AS c
        |  FROM f WHERE side = 1)
        |SELECT event_id, user_id,
        |  CASE WHEN c IS NOT NULL AND abs(us - c.t) <= 1800000000
        |       THEN c.sid END AS snap_id,
        |  CASE WHEN c IS NOT NULL AND abs(us - c.t) <= 1800000000
        |       THEN abs(us - c.t) END AS dist_us
        |FROM sel""".stripMargin,

    "q142_window_funcs" ->
      """SELECT event_id, user_id,
        |  lag(event_type) OVER w AS prev_type,
        |  lead(event_type) OVER w AS next_type,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(ntile(4) OVER w AS BIGINT) AS ntile4,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // NULL buckets pair 1:1 under IS NOT DISTINCT FROM.
    "q143_nullsafe_join" ->
      """WITH k AS (SELECT CASE WHEN user_id % 10 = 0 THEN NULL
        |    ELSE user_id % 20 END AS k, event_type FROM events),
        |a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_a FROM k GROUP BY 1),
        |b AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_b FROM k
        |      WHERE event_type = 'view' GROUP BY 1)
        |SELECT a.k, a.n_a, CAST(COALESCE(b.n_b, 0) AS BIGINT) AS n_b
        |FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin,

    "q85_interval_join" -> intervalJoinOracleSql,

    // identical semantics to q85 — only the physical strategy differs
    "q96_interval_broadcast" -> intervalJoinOracleSql,

    "q86_zorder_key" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(list_sum(list_transform(range(0, 31),
        |    i -> (((o_custkey & 2147483647) >> i) & 1) * (1::BIGINT << (2*i))
        |       + (((o_orderkey & 2147483647) >> i) & 1) * (1::BIGINT << (2*i + 1)))) AS BIGINT) AS zval
        |FROM orders""".stripMargin,

    "q88_scd2_build" ->
      """WITH dd AS (SELECT user_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events),
        |ch AS (SELECT user_id, ts, event_type FROM dd WHERE rn = 1)
        |SELECT user_id, event_type, epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS valid_to_us,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS version,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
        |FROM ch""".stripMargin,

    "q119_set_ops" ->
      """WITH a AS (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, source FROM documents WHERE doc_id % 3 = 0),
        |a2 AS (SELECT * FROM a UNION ALL SELECT * FROM a)
        |SELECT doc_id, source, 'intersect' AS op
        |  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT doc_id, source, 'except'
        |  FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT doc_id, source, 'intersect_all'
        |  FROM (SELECT * FROM a2 INTERSECT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT doc_id, source, 'except_all'
        |  FROM (SELECT * FROM a2 EXCEPT ALL SELECT * FROM b)""".stripMargin,

    // Sequential-min replay of the fold (all comparisons in epoch
    // MICROS on both engines — the parquet is nanos, and a
    // sub-microsecond tie must resolve identically).
    "q117_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |  WHERE event_id % 29 = 0),
        |t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.us > t1.t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us > t2.t2 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM e),
        |st AS (SELECT u.user_id,
        |    CASE WHEN t3.user_id IS NOT NULL THEN 3
        |         WHEN t2.user_id IS NOT NULL THEN 2
        |         WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |         LEFT JOIN t3 USING (user_id))
        |SELECT CAST(stage AS INT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM st GROUP BY 1""".stripMargin,

    // Each event's 4 slide-aligned window starts, replayed by integer
    // epoch arithmetic (Spark's window() aligns to the 1970 origin,
    // i.e. floor on epoch micros).
    "q158_hopping_distinct" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
        |x AS (SELECT us - (us % 900000000) - i * 900000000 AS win_start_us,
        |    user_id
        |  FROM e, UNNEST(range(0, 4)) AS t(i))
        |SELECT win_start_us,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM x GROUP BY 1""".stripMargin,

    "q167_sql_surface" ->
      """SELECT o_orderkey,
        |  CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
        |  CAST(list_sum(list_transform(range(0, 31),
        |    i -> (((o_custkey & 2147483647) >> i) & 1) * (1::BIGINT << (2*i))
        |       + (((o_orderkey & 2147483647) >> i) & 1) * (1::BIGINT << (2*i + 1)))) AS BIGINT) AS z,
        |  CAST(row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_orderkey) AS BIGINT) AS rn
        |FROM orders""".stripMargin,

    "q160_top_unshipped" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY 1, 2
        |ORDER BY revenue_cents DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    // the same distinct-value cumulative walk, boundaries as scalar
    // subqueries; bucket membership replayed by boundary comparisons
    "q161_equi_depth" ->
      """WITH t AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |dv AS (SELECT c, COUNT(*) AS n FROM t GROUP BY 1),
        |wc AS (SELECT c, n,
        |    SUM(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(n) OVER () AS total FROM dv),
        |b AS (SELECT
        |  (SELECT MIN(c) FROM wc WHERE cum*4 >= total AND (cum-n)*4 < total) AS q1,
        |  (SELECT MIN(c) FROM wc WHERE cum*2 >= total AND (cum-n)*2 < total) AS q2,
        |  (SELECT MIN(c) FROM wc WHERE cum*4 >= total*3 AND (cum-n)*4 < total*3) AS q3)
        |SELECT CAST(c > q1 AS BIGINT) + CAST(c > q2 AS BIGINT)
        |    + CAST(c > q3 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(c) AS min_cents, MAX(c) AS max_cents
        |FROM t, b GROUP BY 1""".stripMargin,

    "q157_below_avg" ->
      """WITH li AS (SELECT l_partkey, l_returnflag,
        |    CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS q,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p
        |  FROM lineitem),
        |st AS (SELECT *, CAST(SUM(q) OVER w AS BIGINT) AS s,
        |    COUNT(*) OVER w AS n
        |  FROM li WINDOW w AS (PARTITION BY l_partkey))
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_small,
        |  CAST(SUM(p) AS BIGINT) AS sum_price_cents
        |FROM st WHERE q * 5 * n < s GROUP BY 1""".stripMargin,

    "q114_hopping_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |x AS (SELECT us - (us % 900000000) - i * 900000000 AS win_start_us,
        |    event_type, v
        |  FROM e, UNNEST(range(0, 4)) AS t(i))
        |SELECT win_start_us, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(v) AS BIGINT) AS sum_cents
        |FROM x GROUP BY 1, 2""".stripMargin,

    // The fixture's payloads are exactly {"k": N}, so a regex replay is
    // spec-equivalent; injected-garbage rows are pinned NULL.
    "q112_json_extract" ->
      """WITH p AS (SELECT event_type,
        |    CASE WHEN event_id % 13 = 0 THEN NULL
        |         ELSE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
        |    END AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(k) AS BIGINT) AS n_parsed,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(MIN(k) AS BIGINT) AS min_k,
        |  CAST(MAX(k) AS BIGINT) AS max_k
        |FROM p GROUP BY 1""".stripMargin
  )
}
