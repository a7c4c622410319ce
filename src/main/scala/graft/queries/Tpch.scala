package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.t

/** TPC-H basics over `lineitem`, `orders` and `documents`: scan,
  * filter, projection, aggregation, distinct, sort, union, join and
  * exact quantiles.
  */
object Tpch {
  val all: Seq[Query] = Seq(
    // S1/S5 scan + F1/F3 pushdown filter + P1/P2 projection
    Query("q01_scan_filter_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < to_timestamp(lit("1996-01-01")) &&
          col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A-family aggregation (TPC-H Q1 shape). Sums are exact integer
    // CENTS, not DECIMAL: the driver's value-hash treats Spark-parquet
    // decimals and DuckDB decimals differently (r02 q02/q06 failed hash
    // with judge-verified-identical values), so the output is made
    // representation-proof — per-row round(x*100) is exact (inputs have
    // <= 2 decimals), and a sum of longs has one canonical encoding.
    Query("q02_agg_groupby", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some(
      // outer CAST(... AS BIGINT): DuckDB's sum(BIGINT) returns HUGEINT,
      // which pandas/pyarrow surface as float64 — the exact representation
      // drift this query was de-DECIMALed to avoid
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A3/A4 distinct values (the dictionary-page trick's query shape)
    Query("q03_distinct_sorted", (s, dir) => {
      t(s, dir, "documents").select(col("source")).distinct()
        .orderBy(col("source"))
    }, Some(
      "SELECT DISTINCT source FROM documents ORDER BY source")),

    // O1-O5 sort + top-k
    Query("q04_sort_topk", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),

    // §2.7 union + distinct (k-way merge analog)
    Query("q05_union_distinct", (s, dir) => {
      val d = t(s, dir, "documents")
      d.filter(col("n_chars") < 100).select(col("doc_id"))
        .union(d.filter(col("source") === "src1").select(col("doc_id")))
        .distinct()
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT DISTINCT doc_id FROM (
        |  SELECT doc_id FROM documents WHERE n_chars < 100
        |  UNION ALL
        |  SELECT doc_id FROM documents WHERE source = 'src1')
        |ORDER BY doc_id""".stripMargin)),

    // §2.3 the one real join: equi join + aggregate (integer cents —
    // same decimal-representation-proofing as q02)
    Query("q06_join_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"))
        .orderBy(col("o_orderpriority"))
    }, Some(
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // F4 regex constraint
    Query("q07_filter_regex", (s, dir) => {
      t(s, dir, "documents")
        .filter(col("text").rlike("hash (join|agg)"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"))
    }, Some(
      """SELECT source, count(*) AS n FROM documents
        |WHERE regexp_matches(text, 'hash (join|agg)')
        |GROUP BY source ORDER BY source""".stripMargin)),

    // F2/F5 set-match + NOT constraints
    Query("q08_filter_in_not", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") && !(col("l_linestatus") === "F"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, Some(
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_returnflag IN ('A','R') AND NOT l_linestatus = 'F'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // §2.7 set ops: INTERSECT / EXCEPT (row-range intersect/complement
    // analog, reference: search/rowrange.go:50-132)
    Query("q24_intersect_except", (s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.filter(col("n_chars") > 200).select(col("doc_id"))
      val b = d.filter(col("source").isin("src1", "src2", "src3")).select(col("doc_id"))
      a.intersect(b).withColumn("op", lit("both"))
        .union(a.except(b).withColumn("op", lit("only_long")))
        .orderBy(col("op"), col("doc_id"))
    }, Some(
      """WITH a AS (SELECT doc_id FROM documents WHERE n_chars > 200),
        |b AS (SELECT doc_id FROM documents WHERE source IN ('src1','src2','src3'))
        |SELECT doc_id, 'both' AS op FROM (SELECT doc_id FROM a INTERSECT SELECT doc_id FROM b)
        |UNION ALL
        |SELECT doc_id, 'only_long' AS op FROM (SELECT doc_id FROM a EXCEPT SELECT doc_id FROM b)
        |ORDER BY op, doc_id""".stripMargin)),

    // EXACT distributed quantiles (p50/p90/p99 of n_chars per source)
    // via the histogram-cumsum formulation: groupBy (source, value)
    // compresses the corpus to its value histogram FIRST (map-side
    // partial aggregation — the only full-data shuffle), then the
    // ordered cumulative sum runs over histogram rows only. A naive
    // row_number() window over raw rows would sort each source's
    // entire 10^11-row slice inside max-#sources tasks; here the
    // window input is |distinct values| rows per source (bounded by
    // the value domain, not the corpus). Rank arithmetic is pure
    // integer (ceil(q*n) = (q_num*n + q_den-1) DIV q_den), so the
    // oracle hash-matches with no float quantile semantics involved.
    Query("q66_exact_quantiles", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("n_chars"))))
        .withColumn("cnt", sum(col("c")).over(
          Window.partitionBy(col("source"))))
      cum.groupBy(col("source"))
        .agg(max(col("cnt")).as("n_docs"),
          min(when(col("cum") >= expr("(cnt + 1) DIV 2"), col("n_chars"))).as("p50"),
          min(when(col("cum") >= expr("(cnt * 9 + 9) DIV 10"), col("n_chars"))).as("p90"),
          min(when(col("cum") >= expr("(cnt * 99 + 99) DIV 100"), col("n_chars"))).as("p99"))
        .orderBy(col("source"))
    }, Some(
      """WITH h AS (
        |  SELECT source, n_chars, count(*) AS c
        |  FROM documents GROUP BY source, n_chars),
        |cum AS (
        |  SELECT source, n_chars,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS cnt
        |  FROM h)
        |SELECT source, CAST(max(cnt) AS BIGINT) AS n_docs,
        |  min(CASE WHEN cum >= (cnt + 1) // 2 THEN n_chars END) AS p50,
        |  min(CASE WHEN cum >= (cnt * 9 + 9) // 10 THEN n_chars END) AS p90,
        |  min(CASE WHEN cum >= (cnt * 99 + 99) // 100 THEN n_chars END) AS p99
        |FROM cum GROUP BY source ORDER BY source""".stripMargin))
  )
}
