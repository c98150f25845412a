package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Cleaning, Gender}
import graft.operators.Dedup

/** Standalone per-operator queries over the star schema, one per SURVEY
  * §2 relational operator (OP-05..29). Each has an exact DuckDB oracle.
  *
  * Numeric discipline for oracle hash-parity: every aggregated double is
  * cast to DECIMAL before summation (exact, order-independent), but the
  * OUTPUT column is always DOUBLE with an explicit round — the driver's
  * gate canonicalizes DECIMAL differently than DOUBLE, so DECIMAL must
  * never appear in a final schema (round-1 lesson: ADVICE.md). Counts /
  * row_numbers are BIGINT.
  */
object RelationalQueries {

  val all: Seq[Q] = Seq(

    // OP-05: projection with aliasing (reference 33-col SELECT list,
    // EtlHisTurnosCommand.php:255-291).
    Q("op05_project_alias",
      (s, d) => Tables.lineitem(s, d).select(
        col("l_orderkey").as("orden_id"),
        col("l_linenumber").as("linea"),
        col("l_partkey").as("prestacion_ref"),
        round(col("l_quantity").cast("double"), 2).as("cantidad"),
        col("l_returnflag").as("bandera")),
      Some("""SELECT l_orderkey AS orden_id, l_linenumber AS linea,
               l_partkey AS prestacion_ref,
               round(CAST(l_quantity AS DOUBLE), 2) AS cantidad,
               l_returnflag AS bandera FROM lineitem""")),

    // OP-06: null-propagating string concat (T-SQL `+` semantics,
    // EtlHisTurnosCommand.php:278). Spark concat == DuckDB `||`.
    Q("op06_concat_null",
      (s, d) => Tables.customer(s, d).select(
        col("c_custkey"),
        concat(col("c_name"), lit(" "),
               when(col("c_mktsegment") === "BUILDING", lit(null))
                 .otherwise(col("c_mktsegment"))).as("nombre_completo")),
      Some("""SELECT c_custkey,
               c_name || ' ' || nullif(c_mktsegment, 'BUILDING') AS nombre_completo
              FROM customer""")),

    // OP-07: non-empty gate (PHP !empty, EtlHisTurnosCommand.php:175).
    Q("op07_filter_nonempty",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("flag",
          when(col("l_returnflag") === "N", lit("  ")).otherwise(col("l_returnflag")))
        .filter(Cleaning.nonEmpty(col("flag")))
        .groupBy(col("flag")).agg(count(lit(1)).as("n")),
      Some("""SELECT flag, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT CASE WHEN l_returnflag = 'N' THEN '  ' ELSE l_returnflag END AS flag
                FROM lineitem) t
              WHERE flag IS NOT NULL AND trim(flag) <> '' GROUP BY flag""")),

    // OP-09: inner equi-joins fact→dim with aggregation; decimal-exact
    // revenue. Catalyst broadcasts the dims via AQE.
    Q("op09_join_inner_agg",
      (s, d) => {
        val li = Tables.lineitem(s, d); val o = Tables.orders(s, d); val c = Tables.customer(s, d)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            round(sum(col("l_extendedprice").cast("decimal(18,2)") *
                (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("double"), 4).as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT c_mktsegment,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE), 4) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment""")),

    // OP-10: snowflake dim→dim chain (customer→nation→region).
    Q("op10_snowflake_join",
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers")),
      Some("""SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers
              FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name""")),

    // OP-11: self-join — nation in two roles (customer's vs supplier's),
    // the reference's Personas-as-patient/Personas-as-user pattern.
    Q("op11_selfjoin_roles",
      (s, d) => {
        val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
        val c = Tables.customer(s, d);  val sup = Tables.supplier(s, d)
        val n1 = Tables.nation(s, d).select(
          col("n_nationkey").as("cn_key"), col("n_name").as("nacion_cliente"))
        val n2 = Tables.nation(s, d).select(
          col("n_nationkey").as("sn_key"), col("n_name").as("nacion_proveedor"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, li("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
          .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
          .groupBy(col("nacion_cliente"), col("nacion_proveedor"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("total_qty"))
      },
      Some("""SELECT n1.n_name AS nacion_cliente, n2.n_name AS nacion_proveedor,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
              GROUP BY n1.n_name, n2.n_name""")),

    // OP-12: left outer join preserving unmatched left rows (RIS chain,
    // EtlHisTurnosCommand.php:304-307): customers vs their 'F' orders.
    Q("op12_left_outer",
      (s, d) => {
        val c = Tables.customer(s, d)
        val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        c.join(f, c("c_custkey") === f("o_custkey"), "left_outer")
          .groupBy(c("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_f_orders"))
      },
      Some("""SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_f_orders
              FROM customer
              LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') f
                ON c_custkey = f.o_custkey
              GROUP BY c_custkey""")),

    // OP-14: global counts (EtlHisTurnosCommand.php:93,117).
    Q("op14_counts",
      (s, d) => {
        val t = Seq("lineitem", "orders", "customer", "part").map { name =>
          Tables.load(s, d, name).agg(count(lit(1)).as("n")).select(lit(name).as("tabla"), col("n"))
        }
        t.reduce(_.unionAll(_))
      },
      Some("""SELECT 'lineitem' AS tabla, CAST(count(*) AS BIGINT) AS n FROM lineitem
              UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
              UNION ALL SELECT 'customer', CAST(count(*) AS BIGINT) FROM customer
              UNION ALL SELECT 'part', CAST(count(*) AS BIGINT) FROM part""")),

    // OP-15: ordered first-wins dedup (the pacientesCache semantics):
    // latest order per customer, ties broken by orderkey.
    Q("op15_firstwins_dedup",
      (s, d) => Dedup.firstWins(Tables.orders(s, d), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey").as("ultimo_pedido"), col("o_orderdate")),
      Some("""SELECT o_custkey, o_orderkey AS ultimo_pedido, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
                FROM orders) t WHERE rn = 1""")),

    // OP-15, hash-aggregation form: identical winner via min_by over an
    // ascending composite (negated day number, natural-key tiebreak) —
    // the skew-robust fact-scale formulation (map-side partials shrink
    // hot keys BEFORE the shuffle; no per-group sort). Checked against
    // the SAME oracle SQL as op15.
    Q("op15b_firstwins_agg",
      (s, d) => Dedup.firstWinsAgg(Tables.orders(s, d), Seq("o_custkey"),
          // o_orderdate is date-granular (midnight NTZ); negated day
          // number gives the DESC order as an ascending component.
          Seq(-unix_date(col("o_orderdate").cast("date")), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey").as("ultimo_pedido"), col("o_orderdate")),
      Some("""SELECT o_custkey, o_orderkey AS ultimo_pedido, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
                FROM orders) t WHERE rn = 1""")),

    // OP-16: order-insensitive distinct of trimmed names
    // (prestacionesCache, EtlHisTurnosCommand.php:179-193).
    Q("op16_distinct_catalog",
      (s, d) => Dedup.distinctTrimmed(
        Tables.part(s, d).withColumn("padded", concat(lit("  "), col("p_type"), lit(" "))),
        "padded", "tipo"),
      Some("SELECT DISTINCT trim('  ' || p_type || ' ') AS tipo FROM part WHERE p_type IS NOT NULL")),

    // OP-18+OP-19: global sort determinism made observable through dense
    // surrogate ids (ORDER BY FechaAlta DESC with pinned tiebreaker).
    Q("op18_19_sorted_dense_ids",
      (s, d) => Dedup.denseId(Tables.orders(s, d),
          Seq(col("o_orderdate").desc, col("o_orderkey").asc), "id")
        .select(col("id"), col("o_orderkey"), col("o_orderdate")),
      Some("""SELECT CAST(row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey ASC) AS BIGINT) AS id,
               o_orderkey, o_orderdate FROM orders""")),

    // OP-22: find-or-insert degenerates to anti-join in batch — parts
    // never ordered in quantity > 45.
    Q("op22_anti_join",
      (s, d) => Tables.part(s, d).join(
          Tables.lineitem(s, d).filter(col("l_quantity") > 45),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name")),
      Some("""SELECT p_partkey, p_name FROM part p
              WHERE NOT EXISTS (SELECT 1 FROM lineitem
                WHERE l_quantity > 45 AND l_partkey = p.p_partkey)""")),

    // OP-22 incremental mode: dim built from a key subset, then
    // find-or-insert of the full key stream — existing ids stable, new
    // keys appended above max id.
    Q("op22b_find_or_insert",
      (s, d) => {
        val part = Tables.part(s, d)
        val existing = Dedup.denseId(
          part.filter(col("p_partkey") <= 1000)
            .select(trim(col("p_name")).as("nombre")).distinct(),
          Seq(col("nombre").asc), "id")
        Dedup.findOrInsert(existing, part.select(col("p_name").as("nombre")),
          "nombre", "id")
      },
      Some("""WITH existing AS (
                SELECT CAST(row_number() OVER (ORDER BY nombre) AS BIGINT) AS id, nombre
                FROM (SELECT DISTINCT trim(p_name) AS nombre FROM part WHERE p_partkey <= 1000) t
              ),
              mx AS (SELECT coalesce(max(id), 0) AS m FROM existing),
              newk AS (
                SELECT DISTINCT trim(p_name) AS nombre FROM part
                WHERE p_name IS NOT NULL AND trim(p_name) <> ''
                  AND trim(p_name) NOT IN (SELECT nombre FROM existing)
              ),
              added AS (
                SELECT CAST(row_number() OVER (ORDER BY nombre) AS BIGINT)
                         + (SELECT m FROM mx) AS id, nombre
                FROM newk
              )
              SELECT nombre, id FROM existing
              UNION ALL SELECT nombre, id FROM added""")),

    // Skew-salted join ≡ plain join — the oracle IS the plain join, so
    // the gate proves the salting is semantics-preserving. 80% of rows
    // share one hot key.
    Q("skew01_salted_join",
      (s, d) => {
        val sk = Tables.lineitem(s, d)
          .withColumn("k",
            when(col("l_orderkey") % 10 < 8, lit(0L))
              .otherwise(col("l_partkey") % 50 + 1))
          .withColumn("uniq",
            concat_ws("_", col("l_orderkey"), col("l_linenumber")))
        val dim = sk.select(col("k")).distinct()
          .withColumn("label", concat(lit("g"), col("k")))
        graft.operators.Skew.saltedJoin(sk, dim, "k", "uniq", 16)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty"))
      },
      Some("""WITH sk AS (
                SELECT *, CASE WHEN l_orderkey % 10 < 8 THEN 0
                               ELSE l_partkey % 50 + 1 END AS k
                FROM lineitem
              ),
              dim AS (SELECT DISTINCT k, 'g' || CAST(k AS VARCHAR) AS label FROM sk)
              SELECT label, CAST(count(*) AS BIGINT) AS n,
                     round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
              FROM sk JOIN dim USING (k) GROUP BY label""")),

    // Set operations (INTERSECT / EXCEPT with ANSI bag-to-set
    // semantics) — beyond the reference's surface, table stakes for an
    // analytics engine.
    Q("op32_set_ops",
      (s, d) => {
        val o = Tables.orders(s, d)
        val autoCust = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        val fCust = o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey"))
        autoCust.intersect(fCust).withColumn("grupo", lit("ambos"))
          .unionAll(autoCust.except(fCust).withColumn("grupo", lit("solo_urgente")))
      },
      Some("""SELECT o_custkey, 'ambos' AS grupo FROM (
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
                INTERSECT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t
              UNION ALL
              SELECT o_custkey, 'solo_urgente' FROM (
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
                EXCEPT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t2""")),

    // Grouped top-k, window form: top-3 orders per customer by price.
    // Dim-scale-appropriate (row_number sorts every group member).
    Q("op33_topk_window",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d).select(
            col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rnk"))
          .filter(col("rnk") <= 3)
          .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      },
      Some("""WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
              FROM orders)
              SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
              FROM r WHERE rnk <= 3""")),

    // Grouped top-k, bounded-state Aggregator form: identical result
    // via ≤ k rows of state per group at every stage (map-side partials
    // shrink hot keys BEFORE the shuffle; no per-group sort) — the
    // fact-scale/skew-robust form, same oracle as op33.
    Q("op33b_topk_agg",
      (s, d) => graft.operators.Dedup.topKPerGroup(
        Tables.orders(s, d), "o_custkey", "o_orderkey", "o_totalprice", 3),
      Some("""WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
              FROM orders)
              SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
              FROM r WHERE rnk <= 3""")),

    // Bloom-filter runtime pre-filter (semi-join reduction): lineitem
    // rows whose order is not URGENT are dropped by a broadcast-free
    // codegen bit test BEFORE the join shuffle; the exact semi-join
    // then removes false positives, so the result is identical to the
    // plain semi-join the oracle runs — the explicit form of the
    // runtime-filter/DPP technique that decides 100 TB join cost.
    Q("ex12_bloom_prefilter",
      (s, d) => {
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
        graft.operators.RuntimeFilter.bloomSemiJoin(
            Tables.lineitem(s, d), urgent, "l_orderkey", "o_orderkey")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
              .as("qty"))
      },
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
              FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                   WHERE o_orderpriority = '1-URGENT')
              GROUP BY l_returnflag, l_linestatus""")),

    // Rollup (hierarchical subtotals) — beyond the reference's SQL
    // surface but table stakes for an analytics engine; null markers
    // for subtotal rows match ANSI GROUP BY ROLLUP.
    Q("op30_rollup",
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty")),
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
              FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // per-flag totals, per-status totals, and the grand total in one
    // pass — ANSI null markers for the non-grouped columns.
    Q("op30b_grouping_sets",
      (s, d) => Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty")),
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
              FROM lineitem
              GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")),

    // CUBE — all 2^n grouping combinations in one pass (completes the
    // ANSI grouping-construct family next to rollup and grouping
    // sets). grouping_id disambiguates a subtotal NULL from a NULL
    // group value — the marker both engines must agree on.
    Q("op30c_cube",
      (s, d) => Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("qty")),
      Some("""SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
              FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // Running windows: cumulative count + sum per customer in a pinned
    // total order (rows-frame, decimal-exact cumulative sum).
    Q("op31_running_window",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(
            Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_orderdate").asc, col("o_orderkey").asc))
            .cast("long").as("nth_order"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double"), 2).as("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER w AS BIGINT) AS nth_order,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS running_total
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""")),

    // OP-23..26: limpiarNombres composite (trim → collapse → upper).
    Q("op23_26_limpiar_nombres",
      (s, d) => Tables.part(s, d).select(
        col("p_partkey"),
        Cleaning.limpiarNombres(concat(lit("  "), col("p_name"), lit("   de  prueba "))).as("limpio")),
      Some("""SELECT p_partkey,
               upper(trim(regexp_replace('  ' || p_name || '   de  prueba ', '\s+', ' ', 'g'))) AS limpio
              FROM part""")),

    // OP-27: first-token split (given-name extraction).
    Q("op27_first_token",
      (s, d) => Tables.part(s, d).select(
        col("p_partkey"), Cleaning.firstToken(col("p_name")).as("primera")),
      Some("SELECT p_partkey, split_part(p_name, ' ', 1) AS primera FROM part")),

    // SCD2 (type-2 slowly-changing-dimension) merge — the
    // history-preserving extension of the reference's find-or-insert
    // dims. Fixture: customers as the open rows (plus synthetic closed
    // history for every 10th key), an update batch with changed
    // balances (every 7th key), no-op rows (every 7th+1 — must NOT
    // produce a new version), and brand-new keys (every 13th + 1M).
    Q("op36_scd2_merge",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        val openRows = c
          .withColumn("valid_from", lit(java.sql.Date.valueOf("2024-01-01")))
          .withColumn("valid_to", lit(null).cast("date"))
          .withColumn("is_current", lit(true))
        val closedRows = c.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_acctbal", round(col("c_acctbal") - 50, 2))
          .withColumn("valid_from", lit(java.sql.Date.valueOf("2023-01-01")))
          .withColumn("valid_to", lit(java.sql.Date.valueOf("2024-01-01")))
          .withColumn("is_current", lit(false))
        val updates = c.filter(col("c_custkey") % 7 === 0)
            .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2))
          .unionByName(c.filter(col("c_custkey") % 7 === 1))
          .unionByName(c.filter(col("c_custkey") % 13 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
        graft.operators.Scd2.merge(openRows.unionByName(closedRows), updates,
          "c_custkey", Seq("c_acctbal", "c_mktsegment"),
          java.sql.Date.valueOf("2024-06-01"))
      },
      Some("""WITH cur AS (
        SELECT c_custkey, c_acctbal, c_mktsegment,
               DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
               true AS is_current
        FROM customer
        UNION ALL
        SELECT c_custkey, round(c_acctbal - 50, 2), c_mktsegment,
               DATE '2023-01-01', DATE '2024-01-01', false
        FROM customer WHERE c_custkey % 10 = 0),
      upd AS (
        SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 1
        UNION ALL
        SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), 'NEW'
        FROM customer WHERE c_custkey % 13 = 0),
      open_rows AS (SELECT * FROM cur WHERE is_current),
      closed_rows AS (SELECT * FROM cur WHERE NOT is_current),
      chg AS (
        SELECT u.* FROM upd u LEFT JOIN open_rows o ON o.c_custkey = u.c_custkey
        WHERE o.c_custkey IS NULL
           OR NOT (u.c_acctbal IS NOT DISTINCT FROM o.c_acctbal
               AND u.c_mktsegment IS NOT DISTINCT FROM o.c_mktsegment))
      SELECT * FROM closed_rows
      UNION ALL
      SELECT o.* FROM open_rows o
      WHERE o.c_custkey NOT IN (SELECT c_custkey FROM chg)
      UNION ALL
      SELECT o.c_custkey, o.c_acctbal, o.c_mktsegment, o.valid_from,
             DATE '2024-06-01', false
      FROM open_rows o WHERE o.c_custkey IN (SELECT c_custkey FROM chg)
      UNION ALL
      SELECT c_custkey, c_acctbal, c_mktsegment, DATE '2024-06-01',
             CAST(NULL AS DATE), true
      FROM chg""")),

    // Blocked fuzzy matching: every odd part row's name gets a
    // deterministic one-char deletion (position keyed on p_partkey),
    // then is reconciled back against the clean p_name catalog via
    // 2-char-prefix ∪ 2-char-suffix blocking + Levenshtein ≤ 2 —
    // entity resolution without an all-pairs product.
    Q("op37_fuzzy_match",
      (s, d) => {
        val p = Tables.part(s, d)
        val pos = (col("p_partkey") % length(col("p_name"))).cast("int") + 1
        val dirty = p.select(
          col("p_partkey"),
          when(col("p_partkey") % 2 === 1,
            concat(col("p_name").substr(lit(1), pos - 1),
              col("p_name").substr(pos + 1, length(col("p_name")))))
            .otherwise(col("p_name")).as("sucio"))
        graft.operators.Dedup.fuzzyMatch(dirty, p, "p_partkey", "sucio", "p_name", 2)
      },
      Some("""WITH dirty AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 2 = 1 THEN
                 substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER))
                 || substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
               ELSE p_name END AS sucio
        FROM part),
      cat AS (SELECT DISTINCT p_name FROM part),
      cand AS (
        SELECT d.p_partkey, d.sucio, c.p_name
        FROM dirty d JOIN cat c ON substr(d.sucio, 1, 2) = substr(c.p_name, 1, 2)
        UNION
        SELECT d.p_partkey, d.sucio, c.p_name
        FROM dirty d JOIN cat c
          ON substr(d.sucio, length(d.sucio) - 1) = substr(c.p_name, length(c.p_name) - 1)),
      scored AS (
        SELECT p_partkey, sucio, p_name,
               CAST(levenshtein(sucio, p_name) AS BIGINT) AS dist
        FROM cand)
      SELECT p_partkey, sucio, p_name, dist FROM (
        SELECT p_partkey, sucio, p_name, dist,
               row_number() OVER (PARTITION BY p_partkey
                 ORDER BY dist ASC, p_name ASC) AS rn
        FROM scored WHERE dist <= 2) t
      WHERE rn = 1""")),

    // Sorted-neighborhood entity resolution (Hernández–Stolfo SNM) on
    // the SAME corrupted-names fixture as op37 — the complementary
    // blocking paradigm: sort by the fuzzy key, compare only records
    // within 4 sort positions, verify Levenshtein ≤ 2. Engine rank =
    // Dedup.denseId; the sliding window runs as same-block +
    // adjacent-block EQUI-joins on floor(rn/4). Order pinned by
    // (name, id) so both engines rank identically.
    Q("op42_sorted_neighborhood",
      (s, d) => {
        val p = Tables.part(s, d)
        val pos = (col("p_partkey") % length(col("p_name"))).cast("int") + 1
        val dirty = p.select(
          col("p_partkey"),
          when(col("p_partkey") % 2 === 1,
            concat(col("p_name").substr(lit(1), pos - 1),
              col("p_name").substr(pos + 1, length(col("p_name")))))
            .otherwise(col("p_name")).as("sucio"))
        graft.operators.Dedup.sortedNeighborhood(dirty, "p_partkey", "sucio", 4, 2)
          .withColumnRenamed("id_a", "pk_a").withColumnRenamed("id_b", "pk_b")
      },
      // The window pair join is an EQUI-join on rn = rn + offset
      // (round-18): the old `b.rn > a.rn AND b.rn - a.rn < 4` band
      // predicate is not recognized as a band join by the oracle
      // engine — it planned the single-inequality join (n²/2 pairs
      // with the band as a post-filter), which at the ~sf1 replica is
      // 2e10 intermediate pairs (the op46 stamp OOM). Same pair set by
      // construction: offset ∈ {1,2,3} ⇔ 0 < b.rn − a.rn < 4.
      Some("""WITH dirty AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 2 = 1 THEN
                 substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER))
                 || substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
               ELSE p_name END AS sucio
        FROM part),
      rk AS MATERIALIZED (SELECT p_partkey, sucio,
                    row_number() OVER (ORDER BY sucio, p_partkey) AS rn
             FROM dirty WHERE sucio IS NOT NULL),
      offs AS (SELECT unnest(generate_series(1, 3)) AS o),
      prs AS (SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
                     a.sucio AS key_a, b.sucio AS key_b,
                     CAST(levenshtein(a.sucio, b.sucio) AS BIGINT) AS dist
              FROM rk a CROSS JOIN offs JOIN rk b ON b.rn = a.rn + offs.o)
      SELECT pk_a, pk_b, key_a, key_b, dist FROM prs WHERE dist <= 2""")),

    // Market-basket co-purchase pairs with lift: parts ordered
    // together more often than their popularity predicts. Pair
    // generation is an equi-join on the ORDER key (≤ 7² fan-out per
    // order, never part²); minCount prunes the random-pair tail before
    // the frequency joins; lift is an exact-integer ratio.
    Q("op43_copurchase_lift",
      (s, d) => graft.operators.Affinity.coOccurrence(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey", minCount = 2L),
      Some("""WITH li AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      pairs AS (SELECT l.item AS item1, r.item AS item2,
                       CAST(count(*) AS BIGINT) AS n_co
                FROM li l JOIN li r
                  ON l.basket = r.basket AND l.item < r.item
                GROUP BY 1, 2 HAVING count(*) >= 2),
      freq AS (SELECT item, CAST(count(*) AS BIGINT) AS nf FROM li GROUP BY 1),
      nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM li)
      SELECT p.item1, p.item2, p.n_co,
             round(CAST(p.n_co AS DOUBLE) * nb.n /
                   (CAST(f1.nf AS DOUBLE) * f2.nf), 6) AS lift
      FROM pairs p
      JOIN freq f1 ON f1.item = p.item1
      JOIN freq f2 ON f2.item = p.item2
      CROSS JOIN nb""")),

    // Bucketed co-located join: both sides written as equal-bucketed
    // sorted tables on the join key, then sort-merge-joined with ZERO
    // exchange on either input (the scans themselves report the hash
    // partitioning; PlanSpec asserts no shuffle on the key). This is
    // the storage-layout answer to a recurring 100 TB fact-fact join —
    // pay the shuffle once at write time, never again at read time.
    // Results are layout-independent by construction, so the oracle is
    // the plain join.
    Q("op44_bucketed_smb_join",
      (s, d) => {
        import graft.sinks.Bucketed
        val ob = Bucketed.writeTable(Tables.orders(s, d)
          .select(col("o_custkey"), col("o_totalprice")),
          "graft_op44", "orders_b", 8, "o_custkey")
        val cb = Bucketed.writeTable(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")),
          "graft_op44", "customer_b", 8, "c_custkey")
        Bucketed.smbJoin(s, ob, cb, "o_custkey", "c_custkey")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total_price"))
      },
      Some("""SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment""")),

    // End-to-end entity resolution (Hernández–Stolfo merge/purge as a
    // pipeline): sorted-neighborhood blocking (op42) → edit-distance
    // verify within windows → connected components over match edges →
    // SURVIVORSHIP: one golden record per cluster, picked by the
    // classic most-complete rule (longest name, ties by lexicographic
    // then smallest key). Every stage is the scale-safe form — blocking
    // is window-bounded (never part²), CC is the large/small-star
    // operator, survivorship is one min_by hash agg (map-side
    // combinable, no per-cluster window).
    Q("op46_er_golden_record",
      (s, d) => {
        val p = Tables.part(s, d)
        val pos = (col("p_partkey") % length(col("p_name"))).cast("int") + 1
        val dirty = p.select(
          col("p_partkey"),
          when(col("p_partkey") % 2 === 1,
            concat(col("p_name").substr(lit(1), pos - 1),
              col("p_name").substr(pos + 1, length(col("p_name")))))
            .otherwise(col("p_name")).as("sucio"))
        val pairs = graft.operators.Dedup
          .sortedNeighborhood(dirty, "p_partkey", "sucio", 4, 2)
        val (labels, _) = graft.operators.NearDup.starComponents(
          dirty.select(col("p_partkey")),
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
          "p_partkey")
        val members = labels.join(dirty, Seq("p_partkey"))
        val golden = members.groupBy(col("canonical_id"))
          .agg(expr("min_by(sucio, struct(-length(sucio), sucio, p_partkey))")
            .as("golden_name"))
        members.join(golden, Seq("canonical_id"))
          .select(col("p_partkey"), col("canonical_id"), col("golden_name"))
      },
      // Oracle shape (round-18, the ~sf1 single-pass-stamp item). Two
      // scale defects fixed, measured 1.4 s / hash-identical at the
      // 10× replica under the stamp child's 24 GB (was OOM at 24 GB /
      // 1302 s solo at 100 GB):
      //  1. the window pair join used `b.rn > a.rn AND b.rn - a.rn <
      //     4`, which the oracle engine plans as the single-inequality
      //     join — n²/2 ≈ 2e10 intermediate pairs at the replica
      //     (reproduced OOM). The offset EQUI-join generates the
      //     identical pair set through 3 hash probes of the rank
      //     table.
      //  2. the reach recursion from every part accumulated Σ comp²
      //     (node, reachable) pairs — the replica's near-dup chains
      //     run ~2,400 nodes with >400 diameter, ≈ 2.2e8 rows of
      //     recursive state. POINTER DOUBLING first: parent = min(self
      //     ∪ neighbors), then the map composed with itself 12 times
      //     (covers depth 2^12; ascending-id chains defeat plain
      //     min-label contraction, which peels ONE node per round).
      //     The recursive fixpoint then runs on the CONTRACTED
      //     local-min graph — still exact at ANY diameter (doubling
      //     only relocates nodes within their component, and the
      //     component min is a fixpoint of the parent map, so the
      //     contracted min IS the component min).
      Some(op46OracleSql)),

    // ORC round-trip: lineitem → ORC files → back → aggregate. Proves
    // the second columnar lake format end to end (type mapping,
    // timestamp semantics, predicate-compatible scan) — the oracle
    // reads the ORIGINAL parquet, so any value drift introduced by the
    // ORC encode/decode (timestamp TZ shifts are the classic one) is a
    // hash mismatch, not a trusted no-op.
    Q("op45_orc_roundtrip",
      (s, d) => {
        import graft.sources.Formats
        val path = graft.Scratch.dir("orc_li", d)
        graft.Scratch.delete(path) // pid-suffixed + fresh write each run (round-14 ADVICE hygiene)
        Formats.writeOrc(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
            col("l_shipdate")), path)
        Formats.readOrc(s, path)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_lines"),
            round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
              .as("sum_qty"),
            min(col("l_shipdate")).as("first_ship"),
            max(col("l_shipdate")).as("last_ship"))
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
               min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
              FROM lineitem GROUP BY l_returnflag""")),

    // Avro round-trip: lineitem → Avro container files (written inside
    // the tasks, deflate + sync markers) → back through the SPLITTABLE
    // AvroKeyInputFormat scan → aggregate. Proves the row-oriented
    // interchange format end to end (schema mapping incl. the date
    // logical type, union-null handling) — the oracle reads the
    // ORIGINAL parquet, so any value drift in encode/decode is a hash
    // mismatch, not a trusted no-op. Same pattern as op45 (ORC).
    Q("op49_avro_roundtrip",
      (s, d) => {
        import graft.sources.Formats
        val path = graft.Scratch.dir("avro_li", d)
        graft.Scratch.delete(path) // pid-suffixed + fresh write each run (round-14 ADVICE hygiene)
        Formats.writeAvro(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
            col("l_shipdate")), path)
        Formats.readAvro(s, path)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_lines"),
            round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
              .as("sum_qty"),
            min(col("l_shipdate")).as("first_ship"),
            max(col("l_shipdate")).as("last_ship"))
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
               min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
              FROM lineitem GROUP BY l_returnflag""")),

    // Gzip-JSONL round-trip — the crawl-dump landing format: write one
    // .json.gz per partition, read back with an EXPLICIT schema (no
    // inference pass), aggregate; oracle reads the original parquet.
    // Parallelism at 100 TB comes from FILE COUNT (gzip text cannot
    // split) — the writer emits per-partition files for exactly that
    // reason, and FormatsSpec pins the .gz extension on disk.
    Q("op50_gzip_jsonl",
      (s, d) => {
        import graft.sources.Formats
        import org.apache.spark.sql.types._
        val path = graft.Scratch.dir("gzjsonl_o", d)
        graft.Scratch.delete(path) // pid-suffixed + fresh write each run (round-14 ADVICE hygiene)
        Formats.writeJsonlGz(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"),
            // the fixture column is a timestamp; export the DATE (the
            // JSON date/timestamp formats diverge across engines)
            to_date(col("o_orderdate")).as("o_orderdate")), path)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderpriority", StringType),
          StructField("o_orderdate", DateType)))
        Formats.readJsonlGz(s, path, schema)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
              .as("sum_price"),
            min(col("o_orderdate")).as("first_order"),
            max(col("o_orderdate")).as("last_order"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
               min(CAST(o_orderdate AS DATE)) AS first_order,
               max(CAST(o_orderdate AS DATE)) AS last_order
              FROM orders GROUP BY o_orderpriority""")),

    // Native pivot — the inverse of the reference's unpivot loop
    // (OP-20): per-customer order counts spread across the five
    // o_orderpriority columns. Values are PINNED (explicit list), so
    // the plan is one hash agg with no distinct-values pre-pass — the
    // form that scales; an unpinned pivot needs an extra job to
    // discover columns.
    Q("op38_pivot",
      (s, d) => {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val pivoted = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .pivot("o_orderpriority", prios)
          .agg(count(lit(1)))
        prios.foldLeft(pivoted)((df, p) =>
          df.withColumn(p, coalesce(col(s"`$p`"), lit(0L))))
          .withColumnRenamed("1-URGENT", "urgent")
          .withColumnRenamed("2-HIGH", "high")
          .withColumnRenamed("3-MEDIUM", "medium")
          .withColumnRenamed("4-NOT SPECIFIED", "unspecified")
          .withColumnRenamed("5-LOW", "low")
      },
      Some("""SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
               CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
               CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
               CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS unspecified,
               CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
              FROM orders GROUP BY o_custkey""")),

    // Data-quality expectations: four row-wise rules in ONE scan (a
    // single hash agg + unpivot) plus the non-row-wise uniqueness rule,
    // long-form (rule, violations) — the load-time gate a 100 TB ingest
    // runs before publish.
    Q("dq01_expectations",
      (s, d) => {
        import graft.operators.Quality
        val li = Tables.lineitem(s, d)
        Quality.check(li, Seq(
          Quality.Expectation("orderkey_null", col("l_orderkey").isNull),
          Quality.Expectation("qty_out_of_range", !col("l_quantity").between(1, 50)),
          Quality.Expectation("discount_gt_5pct", col("l_discount") > 0.05),
          Quality.Expectation("flag_unknown", !col("l_returnflag").isin("A", "N", "R"))))
          .unionByName(Quality.uniqueness(li,
            Seq("l_orderkey", "l_linenumber"), "orderline_dupes"))
      },
      Some("""SELECT 'orderkey_null' AS rule,
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
              FROM lineitem
              UNION ALL
              SELECT 'qty_out_of_range',
               CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'discount_gt_5pct',
               CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'flag_unknown',
               CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
              FROM lineitem
              UNION ALL
              SELECT 'orderline_dupes',
               CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
              FROM lineitem""")),

    // Referential-integrity gate: lineitem→orders and lineitem→part FK
    // coverage, plus a manufactured broken reference (orderkey + 10^9)
    // proving a violation actually registers. Long-form (rule,
    // violations) like dq01.
    Q("dq04_fk_check",
      (s, d) => {
        import graft.operators.Quality
        val li = Tables.lineitem(s, d)
        val broken = li.limit(100)
          .withColumn("l_orderkey", col("l_orderkey") + 1000000000L)
        Quality.fkViolations(li, Tables.orders(s, d), "l_orderkey", "o_orderkey",
            "lineitem_orders_fk")
          .unionByName(Quality.fkViolations(li, Tables.part(s, d), "l_partkey",
            "p_partkey", "lineitem_part_fk"))
          .unionByName(Quality.fkViolations(broken, Tables.orders(s, d),
            "l_orderkey", "o_orderkey", "broken_fk_detected"))
      },
      Some("""SELECT 'lineitem_orders_fk' AS rule, CAST(count(*) AS BIGINT) AS violations
              FROM lineitem l WHERE l.l_orderkey IS NOT NULL
                AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)
              UNION ALL
              SELECT 'lineitem_part_fk', CAST(count(*) AS BIGINT)
              FROM lineitem l WHERE l.l_partkey IS NOT NULL
                AND l.l_partkey NOT IN (SELECT p_partkey FROM part)
              UNION ALL
              SELECT 'broken_fk_detected', CAST(count(*) AS BIGINT)
              FROM (SELECT l_orderkey + 1000000000 AS k FROM lineitem
                    ORDER BY l_orderkey, l_linenumber LIMIT 100) b
              WHERE b.k NOT IN (SELECT o_orderkey FROM orders)""")),

    // Order-independent table digest (bit_xor AND mod-2^60 sum of a
    // 60-bit md5 slice per row — the sum catches even-multiplicity
    // duplicates that xor cancels): the cross-engine parity check for
    // migrations/backfills — DuckDB reproduces the exact digests from
    // the same rows, any row order, any partitioning.
    Q("dq02_table_digest",
      (s, d) => graft.operators.Quality.tableDigest(
        Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
        groupBy = Seq("l_returnflag")),
      Some {
        def tag(c: String) =
          s"CASE WHEN $c IS NULL THEN 'N' ELSE 'V' || " +
            s"CAST(length(CAST($c AS VARCHAR)) AS VARCHAR) || ':' || " +
            s"CAST($c AS VARCHAR) END"
        val canon = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
          .map(tag).mkString(" || '|' || ")
        s"""SELECT l_returnflag,
             bit_xor(h) AS digest,
             CAST(sum(h) % 1152921504606846976 AS BIGINT) AS digest_sum,
             CAST(count(*) AS BIGINT) AS n_rows
            FROM (SELECT l_returnflag,
                    CAST(('0x' || substr(md5($canon), 1, 15)) AS BIGINT) AS h
                  FROM lineitem) GROUP BY l_returnflag"""
      }),

    // One-pass column profile (the governance "describe" table):
    // presence/null/distinct/min/max for four customer columns in ONE
    // hash agg over one scan; stack unpivots to long form. String
    // min/max keeps the schema uniform (int/string columns profiled;
    // float columns need upstream rounding — stringification differs
    // across engines).
    Q("dq06_column_profile",
      (s, d) => graft.operators.Quality.columnProfile(
        Tables.customer(s, d),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) - count($c) AS BIGINT) AS n_null,
                CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
                CAST(min($c) AS VARCHAR) AS min_val,
                CAST(max($c) AS VARCHAR) AS max_val
              FROM customer"""
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
          .map(one).mkString("\nUNION ALL\n")
      }),

    // TPC-H Q1 (pricing summary): decimal-exact sums of the classic
    // derived measures — (12,2)³ products stay inside DECIMAL(38,6), so
    // both engines sum exactly and the rounded doubles hash-match.
    Q("tpch_q1",
      (s, d) => {
        def dec(c: String) = col(c).cast("decimal(12,2)")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(dec("l_quantity")).cast("double"), 2).as("sum_qty"),
            round(sum(dec("l_extendedprice")).cast("double"), 2).as("sum_base_price"),
            round(sum(dec("l_extendedprice") * (lit(1).cast("decimal(12,2)") - dec("l_discount")))
              .cast("double"), 2).as("sum_disc_price"),
            round(sum(dec("l_extendedprice") * (lit(1).cast("decimal(12,2)") - dec("l_discount"))
              * (lit(1).cast("decimal(12,2)") + dec("l_tax"))).cast("double"), 2).as("sum_charge"),
            count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) AS sum_disc_price,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                 * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE), 2) AS sum_charge,
               CAST(count(*) AS BIGINT) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
              GROUP BY l_returnflag, l_linestatus""")),

    // TPC-H Q3 (shipping priority, adapted to the fixture's columns):
    // selective dim filter → two fact joins → agg → pinned top-10.
    Q("tpch_q3",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("double"), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) AS revenue
              FROM customer, orders, lineitem
              WHERE c_mktsegment = 'BUILDING'
                AND c_custkey = o_custkey AND l_orderkey = o_orderkey
                AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
                AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
              GROUP BY l_orderkey, o_orderdate, o_orderpriority
              ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""")),

    // TPC-H Q5 (local-supplier revenue): the canonical snowflake
    // multi-join — fact joins two dim CHAINS (customer→nation and
    // supplier→nation→region) that must MEET on the same nation.
    // region/nation/supplier/customer all broadcast (region filter
    // first shrinks the chain); the only shuffle is lineitem⋈orders
    // and the final 5-row agg.
    Q("tpch_q5",
      (s, d) => {
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
        val n = Tables.nation(s, d)
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        val sup = Tables.supplier(s, d)
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        Tables.lineitem(s, d)
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("double"), 2).as("revenue"))
      },
      Some("""SELECT n_name,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) AS revenue
              FROM customer, orders, lineitem, supplier, nation, region
              WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY n_name""")),

    // TPC-H Q18 (large-volume customers, adapted threshold for the
    // fixture's ~4 lines/order): HAVING-filtered semi-join back onto
    // the fact. The qualifying-orders agg is map-side-combinable and
    // its output (~2% of orders) broadcast-joins back; customer joins
    // after the shrink, not before. Deterministic top-100 via the
    // o_orderkey tiebreak.
    Q("tpch_q18",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val big = l.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__q"))
          .filter(col("__q") > 200).select(col("l_orderkey"))
        val o = Tables.orders(s, d)
          .join(big, col("o_orderkey") === big("l_orderkey"), "left_semi")
        val c = Tables.customer(s, d)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"))
          .agg(round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderdate").asc, col("o_orderkey").asc)
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
              FROM customer, orders, lineitem
              WHERE o_orderkey IN (
                      SELECT l_orderkey FROM lineitem
                      GROUP BY l_orderkey
                      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200)
                AND c_custkey = o_custkey AND o_orderkey = l_orderkey
              GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
              ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC LIMIT 100""")),

    // TPC-H Q7 (volume shipping between two nations): the fact joins
    // TWO independently-dimensioned sides (supplier→nation n1,
    // customer→nation n2) with a symmetric pair predicate. Both dim
    // chains pre-filter to the two nations BEFORE joining, so the
    // broadcast sides carry ~8% of suppliers/customers; the only
    // shuffle is lineitem⋈orders. The date filter sits on the scan
    // (PushedFilters) — at 100 TB this prunes the fact read first.
    Q("tpch_q7",
      (s, d) => {
        val pair = Seq("NATION_1", "NATION_2")
        val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("__cnk"), col("n_name").as("cust_nation"))
        val sup = Tables.supplier(s, d)
          .join(broadcast(n1), col("s_nationkey") === col("__snk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = Tables.customer(s, d)
          .join(broadcast(n2), col("c_nationkey") === col("__cnk"))
          .select(col("c_custkey"), col("cust_nation"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("double"), 2).as("revenue"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) AS revenue
              FROM supplier, lineitem, orders, customer, nation n1, nation n2
              WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                AND c_custkey = o_custkey
                AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY 1, 2, 3""")),

    // TPC-H Q10 (returned-item reporting): one quarter of orders ⋈ the
    // returned lines, rolled up per customer with the nation name
    // attached. Both selective filters live on the SCANS (quarter on
    // orders, R-flag on lineitem); customer/nation broadcast AFTER the
    // fact shrinks. Deterministic top-20 via the custkey tiebreak.
    Q("tpch_q10",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1999-10-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
        val n = Tables.nation(s, d)
        Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          // customer is UNFILTERED here — at 100 TB it's one of the
          // largest dims, so no broadcast hint: let AQE pick (it
          // broadcasts at fixture scale, shuffles at warehouse scale)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"), col("c_mktsegment"))
          .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("double"), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) AS revenue
              FROM customer, orders, lineitem, nation
              WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                AND o_orderdate >= TIMESTAMP '1999-10-01 00:00:00'
                AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
                AND l_returnflag = 'R' AND c_nationkey = n_nationkey
              GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
              ORDER BY revenue DESC, c_custkey ASC LIMIT 20""")),

    // TPC-H Q14 (promo revenue share): one shipdate month ⋈ broadcast
    // part, a conditional sum over the SAME decimal-exact measure both
    // branches — the division happens once, in double, after both sums
    // are exact, so the single output row hash-matches bit-for-bit.
    Q("tpch_q14",
      (s, d) => {
        val disc = col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-03-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .agg(
            round(lit(100.0) *
              sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0).cast("decimal(12,2)")))
                .cast("double") /
              sum(disc).cast("double"), 6).as("promo_revenue"))
      },
      Some("""SELECT round(100.0 *
                 CAST(sum(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                   ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE),
                 6) AS promo_revenue
              FROM lineitem, part
              WHERE l_partkey = p_partkey
                AND l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""")),

    // TPC-H Q19 (disjunctive brand/size/quantity predicates): the
    // classic OR-of-ANDs shape. The part join key stays a plain equi-
    // join (the standard optimized Q19 form) so the disjunction is a
    // post-join FILTER Catalyst keeps inside codegen — no nested-loop
    // fallback; part broadcasts, lineitem never shuffles.
    Q("tpch_q19",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 30) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#19" && col("p_size").between(1, 50) &&
              col("l_quantity").between(20, 30)))
          .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("double"), 2).as("revenue"))
      },
      Some("""SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2) AS revenue
              FROM lineitem, part
              WHERE l_partkey = p_partkey
                AND ((p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
                      AND l_quantity BETWEEN 1 AND 11)
                  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30
                      AND l_quantity BETWEEN 10 AND 20)
                  OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 50
                      AND l_quantity BETWEEN 20 AND 30))""")),

    // TPC-H Q22 (positive-balance customers with no orders): the
    // global-scalar-threshold + anti-join shape. The threshold compare
    // is EXACT — `bal > avg` rewritten as `bal·n > sum` so both sides
    // stay in decimal (no engine-dependent FP summation order near the
    // boundary). The one-row agg broadcasts; orders anti-joins the
    // (already threshold-shrunk) customer side. Adapted: "no orders"
    // becomes "no orders since 2000-01-01" — every fixture customer has
    // SOME order, and the dormant-since-a-date form is the same anti-
    // join shape with a pushed scan filter on the orders side.
    Q("tpch_q22",
      (s, d) => {
        val c = Tables.customer(s, d)
        val stats = c.filter(col("c_acctbal") > 0.0)
          .agg(sum(col("c_acctbal").cast("decimal(12,2)")).as("__sum"),
            count(lit(1)).as("__n"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
        c.join(broadcast(stats))
          .filter(col("c_acctbal").cast("decimal(12,2)") * col("__n") > col("__sum"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"),
            round(sum(col("c_acctbal").cast("decimal(12,2)")).cast("double"), 2).as("totacctbal"))
      },
      Some("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS totacctbal
              FROM customer
              WHERE CAST(c_acctbal AS DECIMAL(12,2))
                    * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
                  > (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer WHERE c_acctbal > 0)
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
              GROUP BY c_nationkey""")),

    // TPC-H Q4 (order-priority checking, adapted: "late" = a line
    // shipped >60 days after the order date — the fixture has no
    // commit/receipt dates): EXISTS → left-semi HASH join on orderkey
    // with the date inequality riding as the join filter (never a
    // nested loop), then a priority rollup.
    Q("tpch_q4",
      (s, d) => {
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
              FROM orders
              WHERE EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey
                              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
              GROUP BY o_orderpriority""")),

    // TPC-H Q6 (forecast revenue change): the pure scan-and-aggregate —
    // every predicate on the scan (PushedFilters), decimal-exact
    // price×discount products, ONE partial-aggregated row out.
    Q("tpch_q6",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
          * col("l_discount").cast("decimal(12,2)")).cast("double"), 2).as("revenue")),
      Some("""SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE), 2) AS revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // TPC-H Q8 (national market share): NATION_3's share of ASIA's
    // PROMO-part revenue per order year. The share is a conditional/
    // total ratio of decimal-exact sums (one double division, rounded);
    // all five dims broadcast, the fact shuffles once for l⋈o.
    Q("tpch_q8",
      (s, d) => {
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
        val n1 = Tables.nation(s, d)
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("__cnk"))
        val cust = Tables.customer(s, d)
          .join(broadcast(n1), col("c_nationkey") === col("__cnk"))
          .select(col("c_custkey"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))
        val sup = Tables.supplier(s, d)
          .join(broadcast(n2), col("s_nationkey") === col("__snk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val p = Tables.part(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))
        val disc = col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)"))
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(
            sum(when(col("supp_nation") === "NATION_3", disc)
              .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
            sum(disc).cast("double"), 6).as("mkt_share"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               round(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                 ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE),
                 6) AS mkt_share
              FROM lineitem, orders, customer, supplier, nation n1, nation n2, region, part
              WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
                AND r_name = 'ASIA' AND l_suppkey = s_suppkey
                AND s_nationkey = n2.n_nationkey
                AND l_partkey = p_partkey AND p_type = 'PROMO'
              GROUP BY 1""")),

    // TPC-H Q13 (customer order-count distribution): left join with a
    // filter ON THE JOIN (not the where — customers with zero
    // qualifying orders must survive with count 0), then a two-level
    // rollup: per-customer counts → histogram of counts.
    Q("tpch_q13",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey"))
        val o = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
              FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
                    FROM customer LEFT JOIN orders
                      ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
                    GROUP BY c_custkey) t
              GROUP BY c_count""")),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep
    // the max. The max is ONE aggregated row and the "rev = max" test
    // is an EQUI-join on the exact decimal revenue (rounded the same
    // on both sides) — no scalar-subquery nested loop.
    Q("tpch_q15",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .as("__rev"))
        val top = rev.agg(max(col("__rev")).as("__mx"))
        rev.join(broadcast(top), col("__rev") === col("__mx"))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("__rev").cast("double"), 2).as("total_revenue"))
      },
      Some("""WITH rev AS (SELECT l_suppkey,
                     sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS r
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
              GROUP BY l_suppkey)
              SELECT s_suppkey, s_name, round(CAST(r AS DOUBLE), 2) AS total_revenue
              FROM rev JOIN supplier ON s_suppkey = l_suppkey
              WHERE r = (SELECT max(r) FROM rev)""")),

    // TPC-H Q16 (supplier diversity per part class): distinct
    // suppliers actually shipping each (brand, type, size) — the
    // reference's partsupp is approximated by the lineitem edge; the
    // distinct-count is the one shuffle.
    Q("tpch_q16",
      (s, d) => {
        val p = Tables.part(s, d).filter(col("p_size").isin(1, 14, 23, 45))
        Tables.lineitem(s, d)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      },
      Some("""SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_size IN (1, 14, 23, 45)
              GROUP BY p_brand, p_type, p_size""")),

    // TPC-H Q17 (small-quantity-order revenue): the correlated
    // "quantity < 50% of this part's average" subquery DECORRELATED
    // into one per-part aggregate joined back to the fact — and the
    // threshold compare made EXACT: qty < 0.5·(sum/cnt) ⟺
    // 2·qty·cnt < sum in decimal (no FP division at the boundary).
    Q("tpch_q17",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d).filter(col("p_brand") === "Brand#4")
          .select(col("p_partkey"))
        val avgq = l.groupBy(col("l_partkey").as("__pk"))
          .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("__qs"),
            count(lit(1)).as("__qn"))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(avgq, col("l_partkey") === col("__pk"))
          .filter(col("l_quantity").cast("decimal(12,2)") * 2 * col("__qn") < col("__qs"))
          .agg(round((sum(col("l_extendedprice").cast("decimal(12,2)")) /
            lit(7.0)).cast("double"), 2).as("avg_yearly"))
      },
      Some("""SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0 AS DOUBLE), 2)
                AS avg_yearly
              FROM lineitem l JOIN part ON p_partkey = l_partkey
              JOIN (SELECT l_partkey AS pk,
                           sum(CAST(l_quantity AS DECIMAL(12,2))) AS qs,
                           count(*) AS qn
                    FROM lineitem GROUP BY 1) a ON a.pk = l.l_partkey
              WHERE p_brand = 'Brand#4'
                AND CAST(l_quantity AS DECIMAL(12,2)) * 2 * qn < qs""")),

    // TPC-H Q2 (minimum-cost supplier): the correlated "cost = min cost
    // for this part among that region's suppliers" subquery DECORRELATED
    // into a per-part min joined back on EQUALITY (cost is min of a raw
    // data value — no computed float, so the equality is engine-exact).
    // The fixture has no partsupp: the supply relation is the DISTINCT
    // (part, supplier) edge observed in lineitem, with cost = min
    // observed price — the same adaptation q16 uses. All dims broadcast;
    // the fact shuffles once for the (part, supplier) agg.
    Q("tpch_q2",
      (s, d) => {
        val suppEu = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
                col("n_regionkey") === col("r_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
        val cost = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
          .join(broadcast(suppEu.select(col("s_suppkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice")).as("supply_cost"))
        val mc = cost.groupBy(col("l_partkey").as("__pk"))
          .agg(min(col("supply_cost")).as("__mc"))
        cost
          .join(mc, col("l_partkey") === col("__pk") &&
            col("supply_cost") === col("__mc"))
          .join(broadcast(Tables.part(s, d)
              .filter(col("p_size") === 15 && col("p_type") === "ECONOMY")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(suppEu), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("supply_cost"))
      },
      Some("""WITH supp_eu AS (
               SELECT s_suppkey, s_acctbal, s_name, n_name
               FROM supplier JOIN nation ON s_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               WHERE r_name = 'EUROPE'),
             cost AS (
               SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
               FROM lineitem JOIN supp_eu ON l_suppkey = s_suppkey
               GROUP BY 1, 2),
             mc AS (SELECT l_partkey AS pk, min(supply_cost) AS m FROM cost GROUP BY 1)
             SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, c.supply_cost
             FROM cost c
             JOIN mc ON mc.pk = c.l_partkey AND c.supply_cost = mc.m
             JOIN part p ON p.p_partkey = c.l_partkey
             JOIN supp_eu s ON s.s_suppkey = c.l_suppkey
             WHERE p.p_size = 15 AND p.p_type = 'ECONOMY'""")),

    // TPC-H Q9 (product type profit by nation and year): profit =
    // revenue − cost, decimal-exact inside the sum, ONE double rounding
    // at the end. The fixture has no ps_supplycost: unit cost is
    // modeled as 60% of the part's retail price (a fixed decimal
    // constant, so the arithmetic stays exact). part/supplier/nation
    // broadcast; the fact shuffles once for l⋈o.
    Q("tpch_q9",
      (s, d) => {
        val p = Tables.part(s, d).filter(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice"))
        val sn = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        Tables.lineitem(s, d)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
          // Profit emitted as EXACT integer cents, never round(double, 2):
          // the decimal sum reaches ~1e10, where rounding its double
          // image at 2 decimals is engine-implementation-defined near a
          // .005 boundary (Spark rounds the shortest-print value, DuckDB
          // the x*100 scaled binary) — caught by the ~sf1 stamp as the
          // suite's only volume mismatch; invisible below 10x. The sum
          // stays decimal-exact to the end; round(,0)-then-cast is
          // half-away-from-zero in BOTH engines (no truncation divergence
          // on the 0.6·retailprice·qty term's fractional cents).
          .agg(round(sum(
            col("l_extendedprice").cast("decimal(12,2)")
              * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)"))
              - col("p_retailprice").cast("decimal(12,2)")
                * lit(0.60).cast("decimal(3,2)")
                * col("l_quantity").cast("decimal(12,2)")) * lit(100), 0)
            .cast("long").as("profit_cents"))
      },
      Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                 - CAST(p_retailprice AS DECIMAL(12,2))
                   * CAST(0.60 AS DECIMAL(3,2))
                   * CAST(l_quantity AS DECIMAL(12,2))) * 100, 0) AS BIGINT) AS profit_cents
             FROM lineitem
             JOIN part ON p_partkey = l_partkey
             JOIN orders ON o_orderkey = l_orderkey
             JOIN supplier ON s_suppkey = l_suppkey
             JOIN nation ON n_nationkey = s_nationkey
             WHERE p_name LIKE '%red%'
             GROUP BY 1, 2""")),

    // TPC-H Q11 (important stock): per-part inventory value for one
    // nation's suppliers, kept only when above a GLOBAL-SCALAR
    // threshold — the last untested decorrelation shape (HAVING
    // against an aggregate over the whole grouped relation). The
    // threshold is 2× the mean (scale-invariant, unlike the spec's
    // 0.0001/SF constant) and the compare is kept in exact decimal:
    // v · n > 2 · Σv, no float division at the boundary. The scalar
    // (Σv, n) is ONE broadcast row crossed into the per-part values —
    // the tpch_q22/tx28 whitelisted scalar fan-out, not a data join.
    // No partsupp in the fixture: value = Σ price·qty over the
    // nation's observed lineitem edges.
    Q("tpch_q11",
      (s, d) => {
        val sn = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val v = Tables.lineitem(s, d)
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * col("l_quantity").cast("decimal(12,2)")).as("__v"))
        val tot = v.agg(sum(col("__v")).as("__tot"), count(lit(1)).as("__n"))
        v.crossJoin(broadcast(tot))
          .filter(col("__v") * col("__n") > col("__tot") * 2)
          .select(col("l_partkey").as("p_partkey"),
            round(col("__v").cast("double"), 2).as("part_value"))
      },
      Some("""WITH val AS (
               SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS v
               FROM lineitem
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN nation ON s_nationkey = n_nationkey
               WHERE n_name = 'NATION_7'
               GROUP BY 1)
             SELECT l_partkey AS p_partkey, round(CAST(v AS DOUBLE), 2) AS part_value
             FROM val
             WHERE v * (SELECT count(*) FROM val) > 2 * (SELECT sum(v) FROM val)""")),

    // TPC-H Q12 (shipping-priority audit): conditional counts of
    // high/low-priority orders among LATE 1997 shipments, grouped by a
    // lineitem attribute. The fixture has no l_shipmode or
    // commit/receipt dates: "late" is shipped > 30 days after the
    // order date (the q4 lateness convention) and the group key is
    // l_returnflag. One fact-fact shuffle (l⋈o on orderkey); the
    // date-range filter pushes to the lineitem scan.
    Q("tpch_q12",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count")),
      Some("""SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
               AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
               AND l_shipdate > o_orderdate + INTERVAL 30 DAY
             GROUP BY l_returnflag""")),

    // TPC-H Q20 (potential part promotion): suppliers of one nation
    // who shipped a LOT of 'small%' parts in 1997 — the nested
    // IN(IN(...) ... HAVING Σ) chain as two semi-join reductions. The
    // per-supplier quantity sum is decimal-exact so the HAVING
    // boundary can't float-flip between engines; the fixture has no
    // ps_availqty, so the "more than half the stock" test becomes a
    // fixed shipped-quantity threshold (300 ≈ the p55 of the stable
    // per-supplier distribution).
    Q("tpch_q20",
      (s, d) => {
        val fp = Tables.part(s, d).filter(col("p_name").like("small%"))
          .select(col("p_partkey"))
        val hot = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
          .join(broadcast(fp), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("__sq"))
          .filter(col("__sq") > 300)
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")),
            col("s_nationkey") === col("n_nationkey"))
          .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      },
      Some("""WITH fp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
             hot AS (SELECT l_suppkey
                     FROM lineitem JOIN fp ON l_partkey = p_partkey
                     WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                       AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                     GROUP BY 1
                     HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
             SELECT s_suppkey, s_name, s_acctbal
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
             WHERE n_name = 'NATION_3'
               AND s_suppkey IN (SELECT l_suppkey FROM hot)""")),

    // TPC-H Q21 (suppliers who kept orders waiting): the multi-EXISTS
    // self-join — for each LATE line of a finished order, EXISTS
    // another supplier's line on the same order (multi-supplier
    // order) and NOT EXISTS another supplier's LATE line (this
    // supplier is the sole laggard). EXISTS → left-semi, NOT EXISTS →
    // left-anti, both HASH joins: equi on l_orderkey with the
    // supplier inequality as a residual conjunct, never a nested
    // loop. "Late" is the q4/q12 convention (shipped > 60 days after
    // order date; the fixture has no commit/receipt dates).
    Q("tpch_q21",
      (s, d) => {
        val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val lo = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
        val late = lo
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
        val sn = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_5")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))
        late
          .join(lo.select(col("l_orderkey").as("__ok2"), col("l_suppkey").as("__sk2")),
            col("l_orderkey") === col("__ok2") && col("l_suppkey") =!= col("__sk2"),
            "left_semi")
          .join(late.select(col("l_orderkey").as("__ok3"), col("l_suppkey").as("__sk3")),
            col("l_orderkey") === col("__ok3") && col("l_suppkey") =!= col("__sk3"),
            "left_anti")
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderdate FROM orders
                         WHERE o_orderstatus = 'F'),
             l AS (SELECT l_orderkey, l_suppkey
                   FROM lineitem JOIN o ON l_orderkey = o_orderkey),
             late AS (SELECT li.l_orderkey, li.l_suppkey
                      FROM lineitem li JOIN o ON li.l_orderkey = o.o_orderkey
                      WHERE li.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
             SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
             FROM late l1
             JOIN supplier ON s_suppkey = l1.l_suppkey
             JOIN nation ON n_nationkey = s_nationkey
             WHERE n_name = 'NATION_5'
               AND EXISTS (SELECT 1 FROM l l2
                           WHERE l2.l_orderkey = l1.l_orderkey
                             AND l2.l_suppkey <> l1.l_suppkey)
               AND NOT EXISTS (SELECT 1 FROM late l3
                               WHERE l3.l_orderkey = l1.l_orderkey
                                 AND l3.l_suppkey <> l1.l_suppkey)
             GROUP BY s_name""")),

    // CDC apply (type-1 upsert/delete fold): a synthetic change batch —
    // two ops on the same key (update then delete, seq decides), plain
    // updates, deletes, and inserts — folded into the customer snapshot.
    // Last-op-per-key via one max_by hash agg; deletes anti-join out.
    Q("op39_cdc_apply",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        val updates = c.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2))
          .withColumn("op", lit("U")).withColumn("seq", lit(1L))
        val deletes = c.filter(col("c_custkey") % 11 === 0)
          .withColumn("op", lit("D")).withColumn("seq", lit(2L))
        val inserts = c.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment"))
          .withColumn("op", lit("I")).withColumn("seq", lit(1L))
        graft.operators.Cdc.apply(c,
          updates.unionByName(deletes).unionByName(inserts), "c_custkey", "seq")
      },
      Some("""WITH ch AS (
        SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment,
               'U' AS op, 1 AS seq FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment, 'D', 2
        FROM customer WHERE c_custkey % 11 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 0.0, 'NEW', 'I', 1
        FROM customer WHERE c_custkey % 13 = 0),
      latest AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, op FROM (
          SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
          FROM ch) t WHERE rn = 1)
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
      UNION ALL
      SELECT c_custkey, c_acctbal, c_mktsegment FROM latest WHERE op <> 'D'""")),

    // Point-in-time join: each order joined to the customer-history
    // VERSION valid at its order date (two synthetic versions split at
    // 1998-01-01; version intervals are half-open). Key equality keeps
    // the hash join; the validity range rides as a join filter.
    Q("op40_temporal_join",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        val split = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
        val history = c
          .select(col("c_custkey"), concat(col("c_mktsegment"), lit("#v1")).as("segment"),
            lit(java.sql.Timestamp.valueOf("1990-01-01 00:00:00")).as("valid_from"),
            split.as("valid_to"))
          .unionByName(c.select(col("c_custkey"),
            concat(col("c_mktsegment"), lit("#v2")).as("segment"),
            split.as("valid_from"),
            lit(null).cast("timestamp").as("valid_to")))
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        graft.operators.Scd2.pointInTime(o, history, "o_custkey", "c_custkey",
            "o_orderdate")
          .select(col("o_orderkey"), col("o_custkey"), col("segment"))
      },
      Some("""WITH history AS (
        SELECT c_custkey, c_mktsegment || '#v1' AS segment,
               TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
               TIMESTAMP '1998-01-01 00:00:00' AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, c_mktsegment || '#v2', TIMESTAMP '1998-01-01 00:00:00',
               CAST(NULL AS TIMESTAMP)
        FROM customer)
      SELECT o.o_orderkey, o.o_custkey, h.segment
      FROM orders o LEFT JOIN history h
        ON h.c_custkey = o.o_custkey
       AND o.o_orderdate >= h.valid_from
       AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)""")),

    // Distributed per-group rank over a LOW-cardinality group key (5
    // priorities × 15k orders — the shape where a window's partitionBy
    // funnels each group through ONE sort task): range-partition +
    // zipWithIndex + per-group offset subtraction, every stage
    // distributed. The oracle is the plain window row_number, which
    // Dedup.groupedRank must reproduce exactly.
    Q("op41_grouped_rank",
      (s, d) => graft.operators.Dedup.groupedRank(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        "o_orderpriority", Seq(col("o_totalprice").asc, col("o_orderkey").asc), "rnk"),
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC) AS BIGINT) AS rnk
              FROM orders""")),

    // OP-29: inferirSexo dictionary lookup with unknown→null.
    Q("op29_inferir_sexo",
      (s, d) => {
        val names = graft.his.TurnosPipeline.givenNames
        val withName = Tables.customer(s, d).select(
          col("c_custkey"),
          element_at(typedLit(names), (col("c_custkey") % names.size).cast("int") + 1).as("nombre"))
        withName.withColumn("sexo", Gender.inferirSexo(col("nombre")))
      },
      Some {
        val names = graft.his.TurnosPipeline.givenNames
        val whens = names.zipWithIndex.map { case (nm, i) => s"WHEN $i THEN '$nm'" }.mkString(" ")
        s"""SELECT c_custkey, nombre, ${Gender.oracleCase("nombre")} AS sexo FROM (
              SELECT c_custkey, (CASE (c_custkey % ${names.size}) $whens END) AS nombre
              FROM customer) t"""
      }),

    // Hierarchical subtree rollup — the recursive-CTE read (org chart,
    // bill-of-materials) Spark has no native operator for. The
    // hierarchy is a deterministic forest over customers (parent =
    // custkey div 7; custkeys < 7 are roots, depth ~log7 N at any SF);
    // the engine climbs it with Graph.ancestorClosure's pointer
    // doubling — 6 staged self-joins cover depth 63, N×depth pairs,
    // one hash agg on the ancestor — while the oracle IS the recursive
    // CTE, so the unrolled form is checked against real recursion.
    Q("op47_hierarchy_rollup",
      (s, d) => {
        val edges = Tables.customer(s, d).select(
          col("c_custkey").as("child"),
          when(col("c_custkey") >= 7, expr("c_custkey div 7")).as("parent"))
        graft.operators.Graph.subtreeRollup(edges, "child", "parent",
          Tables.customer(s, d), "c_custkey", "c_acctbal")
      },
      Some("""WITH RECURSIVE anc AS (
                SELECT c_custkey AS node, c_custkey // 7 AS a
                FROM customer WHERE c_custkey >= 7
                UNION ALL
                SELECT anc.node, c.c_custkey // 7
                FROM anc JOIN customer c ON c.c_custkey = anc.a
                WHERE c.c_custkey >= 7),
              pairs AS (SELECT node, a FROM anc
                        UNION ALL SELECT c_custkey, c_custkey FROM customer)
              SELECT p.a AS node, CAST(count(*) AS BIGINT) AS n_desc,
                     round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2)))
                       AS DOUBLE), 2) AS subtree_total
              FROM pairs p JOIN customer c ON c.c_custkey = p.node
              GROUP BY 1""")),

    // Incremental JOIN-view maintenance: a monthly revenue rollup over
    // orders ⋈ lineitem is refreshed from append deltas on BOTH inputs
    // using the first-order delta algebra (ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR —
    // IncrementalRollup.joinViewDelta), merged into the old view's
    // mergeable state; the base-⋈-base rejoin never happens. The
    // splits use INDEPENDENT columns (orderkey %13 vs suppkey %7) so
    // all three delta terms are non-empty — the oracle recomputes the
    // full join, so a missed or double-counted term fails the hash.
    // ex13 is the single-table version; this is the two-sided one.
    Q("op48_delta_join_view",
      (s, d) => {
        import graft.operators.IncrementalRollup
        val o = Tables.orders(s, d).select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        val l = Tables.lineitem(s, d).select(
          col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
          col("l_extendedprice"))
        val (oOld, oDel) = (o.filter(col("o_orderkey") % 13 =!= 0),
          o.filter(col("o_orderkey") % 13 === 0))
        val (lOld, lDel) = (l.filter(col("l_suppkey") % 7 =!= 0),
          l.filter(col("l_suppkey") % 7 === 0))
        val mk = Seq("month")
        val vOld = IncrementalRollup.state(
          oOld.join(lOld, Seq("o_orderkey")), mk, "l_extendedprice")
        val dv = IncrementalRollup.state(
          IncrementalRollup.joinViewDelta(oOld, oDel, lOld, lDel,
            Seq("o_orderkey")), mk, "l_extendedprice")
        IncrementalRollup.finalize(IncrementalRollup.merge(vOld, dv, mk), mk)
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
               min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
               CAST((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) * 100)
                    // count(*) AS DOUBLE) / 10000 AS avg_v
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              GROUP BY 1""")),
  )

  /** op46's generated oracle (see the registration comment): offset
    * equi-join candidates → pointer-doubling contraction → exact
    * recursive fixpoint on the contracted graph. `def`, not lazy val —
    * the registry Seq forces oracles at object construction. */
  private def op46OracleSql: String = {
    val doublingRounds = 12 // covers chain depth 2^12; the fixpoint
                            // below stays exact beyond it
    val rounds = (1 to doublingRounds).map { k =>
      s"""m$k AS MATERIALIZED (
  SELECT a.node, b.par FROM m${k - 1} a JOIN m${k - 1} b ON b.node = a.par)"""
    }.mkString(",\n")
    val mR = s"m$doublingRounds"
    s"""WITH RECURSIVE dirty AS MATERIALIZED (
        SELECT p_partkey,
               CASE WHEN p_partkey % 2 = 1 THEN
                 substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER))
                 || substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
               ELSE p_name END AS sucio
        FROM part),
      rk AS MATERIALIZED (SELECT p_partkey, sucio,
                    row_number() OVER (ORDER BY sucio, p_partkey) AS rn
             FROM dirty WHERE sucio IS NOT NULL),
      offs AS (SELECT unnest(generate_series(1, 3)) AS o),
      prs AS MATERIALIZED (SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b
              FROM rk a CROSS JOIN offs JOIN rk b ON b.rn = a.rn + offs.o
              WHERE levenshtein(a.sucio, b.sucio) <= 2),
      ed0 AS MATERIALIZED (SELECT pk_a AS src, pk_b AS dst FROM prs
                UNION ALL SELECT pk_b, pk_a FROM prs),
      nd0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed0),
      m0 AS MATERIALIZED (
        SELECT n.node, least(n.node, coalesce(min(e.dst), n.node)) AS par
        FROM nd0 n LEFT JOIN ed0 e ON e.src = n.node
        GROUP BY n.node),
      $rounds,
      cnodes AS MATERIALIZED (SELECT DISTINCT par AS node FROM $mR),
      cedges AS MATERIALIZED (
        SELECT DISTINCT ma.par AS src, mb.par AS dst
        FROM ed0 e JOIN $mR ma ON ma.node = e.src JOIN $mR mb ON mb.node = e.dst
        WHERE ma.par <> mb.par),
      reach AS (SELECT node, node AS r FROM cnodes
                UNION
                SELECT re.node, e.dst FROM reach re JOIN cedges e ON e.src = re.r),
      clab AS MATERIALIZED (SELECT node, min(r) AS canonical_id
              FROM reach GROUP BY 1),
      mem AS MATERIALIZED (SELECT d.p_partkey,
                     coalesce(c.canonical_id, m.par, d.p_partkey) AS canonical_id,
                     d.sucio
              FROM dirty d
              LEFT JOIN $mR m ON m.node = d.p_partkey
              LEFT JOIN clab c ON c.node = m.par),
      gold AS (SELECT canonical_id, sucio AS golden_name FROM (
        SELECT canonical_id, sucio,
               row_number() OVER (PARTITION BY canonical_id
                 ORDER BY length(sucio) DESC, sucio ASC, p_partkey ASC) AS g
        FROM mem) t WHERE g = 1)
      SELECT m.p_partkey, m.canonical_id, g.golden_name
      FROM mem m JOIN gold g USING (canonical_id)"""
  }
}
