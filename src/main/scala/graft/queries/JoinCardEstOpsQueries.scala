package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-11 wave 160: join-cardinality estimation from mergeable KMV
  * sketches feeding a plan-choice report — the optimizer-advisor face of
  * the board's sketch family (hll/theta/kll): per candidate join, a
  * bottom-k (k=64) KMV sketch of each side's join key estimates the
  * distinct count, the textbook containment formula
  * |R ⋈ S| ≈ n_R · n_S / max(d̂_R, d̂_S) predicts the output
  * cardinality, and a broadcast-vs-shuffle strategy is chosen from the
  * smaller side's estimated bytes. The TRUE cardinality rides along so
  * the report doubles as an estimator-quality audit.
  *
  * Scale story: each side's sketch is one TakeOrderedAndProject (k rows
  * cross the wire per partition, merged on the driver row count — never
  * a global sort), and sketches merge across shards by re-taking the
  * bottom-k. At 100 TB this is how a planner prices EVERY candidate
  * join without running one: O(k) state per column, one scan amortized
  * over all columns.
  */
object JoinCardEstOpsQueries extends QueryModule {

  private case class JoinSpec(
      name: String, left: String, lkey: String, right: String, rkey: String)
  private val specs = Seq(
    JoinSpec("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    JoinSpec("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    JoinSpec("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"))

  def all: Seq[Q] = Seq(

    Q("plan_join_cardinality",
      Some {
        // per join: KMV d̂ per side (exact when < k hashes), containment
        // estimate, true count, integer error, strategy choice
        def side(tblName: String, key: String, tag: String) =
          s"""h_$tag AS (SELECT DISTINCT
             |  CAST(${H.md5PrefixSql(s"CAST($key AS VARCHAR)", 8)} AS BIGINT) AS hv
             |  FROM $tblName),
             |bk_$tag AS (SELECT hv FROM h_$tag ORDER BY hv LIMIT 64),
             |d_$tag AS (SELECT CASE WHEN count(*) < 64
             |    THEN CAST(count(*) AS BIGINT)
             |    ELSE CAST(63 * 4294967296 // max(hv) AS BIGINT) END AS d,
             |  (SELECT CAST(count(*) AS BIGINT) FROM $tblName) AS n
             |  FROM bk_$tag)""".stripMargin
        val blocks = specs.map { sp =>
          s"""${side(sp.left, sp.lkey, s"l_${sp.name}")},
             |${side(sp.right, sp.rkey, s"r_${sp.name}")},
             |tr_${sp.name} AS (SELECT CAST(count(*) AS BIGINT) AS t
             |  FROM ${sp.left} l JOIN ${sp.right} r
             |  ON l.${sp.lkey} = r.${sp.rkey}),
             |rep_${sp.name} AS (SELECT '${sp.name}' AS join_name,
             |  l.n AS n_left, r.n AS n_right,
             |  l.d AS d_left_est, r.d AS d_right_est,
             |  CAST(CAST(l.n AS HUGEINT) * r.n
             |    // greatest(l.d, r.d) AS BIGINT) AS est_rows,
             |  tr.t AS true_rows,
             |  CAST(abs(CAST(CAST(l.n AS HUGEINT) * r.n
             |      // greatest(l.d, r.d) AS BIGINT) - tr.t) * 100
             |    // greatest(tr.t, 1) AS BIGINT) AS err_pct,
             |  CASE WHEN least(l.n, r.n) * 32 < 10485760
             |    THEN 'broadcast' ELSE 'shuffle' END AS strategy
             |  FROM d_l_${sp.name} l, d_r_${sp.name} r, tr_${sp.name} tr)""".stripMargin
        }
        "WITH " + blocks.mkString(",\n") + "\n" +
          specs.map(sp => s"SELECT * FROM rep_${sp.name}")
            .mkString("", " UNION ALL ", " ORDER BY join_name")
      },
      (s, dir) => {
        val reports = specs.map { sp =>
          def sketch(tn: String, key: String) = {
            val t = tbl(s, dir, tn)
            val h = t.select(
              H.md5Prefix(col(key).cast("string"), 8).as("hv")).distinct()
            // bottom-k: TakeOrderedAndProject — k rows per partition to
            // the driver-side merge, the KMV union property
            val bk = h.orderBy("hv").limit(64)
            bk.agg(count(lit(1)).as("nk"), max("hv").as("hk"))
              .crossJoin(t.agg(count(lit(1)).cast("long").as("n")))
              .select(
                expr("CASE WHEN nk < 64 THEN CAST(nk AS BIGINT) " +
                  "ELSE CAST(63 * 4294967296 div hk AS BIGINT) END").as("d"),
                col("n"))
          }
          val l = sketch(sp.left, sp.lkey)
            .select(col("d").as("dl"), col("n").as("nl"))
          val r = sketch(sp.right, sp.rkey)
            .select(col("d").as("dr"), col("n").as("nr"))
          val t = tbl(s, dir, sp.left).select(col(sp.lkey).as("lk"))
            .join(tbl(s, dir, sp.right).select(col(sp.rkey).as("rk")),
              col("lk") === col("rk"))
            .agg(count(lit(1)).cast("long").as("t"))
          l.crossJoin(r).crossJoin(t).select(
            lit(sp.name).as("join_name"),
            col("nl").as("n_left"), col("nr").as("n_right"),
            col("dl").as("d_left_est"), col("dr").as("d_right_est"),
            expr("CAST(CAST(nl AS DECIMAL(38,0)) * nr " +
              "div greatest(dl, dr) AS BIGINT)").as("est_rows"),
            col("t").as("true_rows"),
            expr("CAST(abs(CAST(CAST(nl AS DECIMAL(38,0)) * nr " +
              "div greatest(dl, dr) AS BIGINT) - t) * 100 " +
              "div greatest(t, 1L) AS BIGINT)").as("err_pct"),
            expr("CASE WHEN least(nl, nr) * 32 < 10485760 " +
              "THEN 'broadcast' ELSE 'shuffle' END").as("strategy"))
        }
        reports.reduce(_ unionByName _).orderBy("join_name")
      })
  )
}
