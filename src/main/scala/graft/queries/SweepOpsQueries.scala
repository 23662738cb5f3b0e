package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Fiftieth wave: sweep-line and path-counting analytics — stress
  * centrality by exact shortest-path-pair counting (the division-free
  * member of the betweenness family), a two-level distributed concurrency
  * sweep, and dormancy/winback detection. Integer arithmetic throughout.
  */
object SweepOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // 4-hop stress centrality on the focus co-purchase subgraph
    // (partkey < 60): B(v) = Σ_{s≠v≠t} σ(s,v)·σ(v,t) over pairs with
    // dist(s,v) + dist(v,t) = dist(s,t) — counts shortest paths THROUGH v
    // without Brandes' rational back-propagation, so every quantity is an
    // exact BIGINT. Shortest paths come from min-length walk counts (a
    // min-length walk cannot revisit a node, so walk counts at the minimum
    // ARE path counts); the 4-hop bound is the scale contract. Each hop
    // carries a walk multiplicity c per (s, t, d) — join the edge list,
    // drop returns to s, sum c per (s, t) — so the walk build stays one row
    // per reachable pair and hop instead of one row per walk, which on a
    // dense subgraph is orders of magnitude more.
    Q("graph_stress_centrality",
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
          |  FROM lineitem WHERE l_partkey < 60),
          |ed AS (SELECT DISTINCT a.pk AS u, b.pk AS v
          |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
          |w1 AS (SELECT u AS s, v AS t, 1 AS d FROM ed),
          |w2 AS (SELECT w1.s, ed.v AS t, 2 AS d FROM w1 JOIN ed
          |  ON ed.u = w1.t WHERE ed.v <> w1.s),
          |w3 AS (SELECT w2.s, ed.v AS t, 3 AS d FROM w2 JOIN ed
          |  ON ed.u = w2.t WHERE ed.v <> w2.s),
          |w4 AS (SELECT w3.s, ed.v AS t, 4 AS d FROM w3 JOIN ed
          |  ON ed.u = w3.t WHERE ed.v <> w3.s),
          |wk AS (SELECT s, t, d FROM w1 UNION ALL SELECT s, t, d FROM w2
          |  UNION ALL SELECT s, t, d FROM w3 UNION ALL SELECT * FROM w4),
          |mn AS (SELECT s, t, min(d) AS dist FROM wk GROUP BY s, t),
          |sp AS (SELECT wk.s, wk.t, mn.dist,
          |  CAST(count(*) AS BIGINT) AS sigma
          |  FROM wk JOIN mn ON mn.s = wk.s AND mn.t = wk.t
          |    AND mn.dist = wk.d
          |  GROUP BY wk.s, wk.t, mn.dist),
          |st AS (SELECT a.t AS v, CAST(sum(a.sigma * b.sigma) AS BIGINT)
          |    AS stress
          |  FROM sp a JOIN sp b ON b.s = a.t
          |  JOIN sp o ON o.s = a.s AND o.t = b.t
          |    AND o.dist = a.dist + b.dist
          |  WHERE a.s <> b.t AND a.t <> a.s AND a.t <> b.t
          |  GROUP BY a.t)
          |SELECT v AS node, stress FROM st ORDER BY node
          |""".stripMargin),
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .filter(col("l_partkey") < 60)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint()
        val ed = li.join(
            li.select(col("ok").as("ok2"), col("pk").as("pk2")),
            col("ok") === col("ok2") && col("pk") =!= col("pk2"))
          .select(col("pk").as("u"), col("pk2").as("v"))
          .distinct()
          .localCheckpoint() // reused by three walk extensions
        def extend(w: org.apache.spark.sql.DataFrame, d: Int) =
          w.join(ed.select(col("u").as("pu"), col("v").as("pv")),
            col("t") === col("pu"))
            .filter(col("pv") =!= col("s"))
            .groupBy(col("s"), col("pv").as("t"))
            .agg(sum(col("c")).as("c"))
            .select(col("s"), col("t"), lit(d).as("d"), col("c"))
        val w1 = ed.select(col("u").as("s"), col("v").as("t"),
          lit(1).as("d"), lit(1L).as("c"))
        val w2 = extend(w1, 2).localCheckpoint()
        val w3 = extend(w2, 3).localCheckpoint()
        val w4 = extend(w3, 4)
        val wk = w1.unionAll(w2).unionAll(w3).unionAll(w4)
          .localCheckpoint()
        val mn = wk.groupBy("s", "t").agg(min("d").as("dist"))
        val sp = wk.join(mn.select(col("s").as("ms"), col("t").as("mt"),
            col("dist")), col("s") === col("ms") && col("t") === col("mt")
            && col("d") === col("dist"))
          .groupBy("s", "t", "dist")
          .agg(sum(col("c")).cast("long").as("sigma"))
          .localCheckpoint() // three-way self-join
        val a = sp.select(col("s").as("as_"), col("t").as("v"),
          col("dist").as("da"), col("sigma").as("sa"))
        val b = sp.select(col("s").as("bv"), col("t").as("bt"),
          col("dist").as("db"), col("sigma").as("sb"))
        val o = sp.select(col("s").as("os"), col("t").as("ot"),
          col("dist").as("dmin"))
        val out = a.join(b, col("bv") === col("v"))
          .join(o, col("os") === col("as_") && col("ot") === col("bt") &&
            col("dmin") === col("da") + col("db"))
          .filter(col("as_") =!= col("bt") && col("v") =!= col("as_") &&
            col("v") =!= col("bt"))
          .groupBy(col("v").as("node"))
          .agg(sum(col("sa") * col("sb")).cast("long").as("stress"))
          .orderBy("node")
        H.materialized(out, caches = Nil,
          checkpoints = Seq(li, ed, w2, w3, wk, sp))
      }),

    // Distributed concurrency sweep: max concurrent user sessions per day.
    // Sessions are 24h-gap groups; each contributes +1 at its start and
    // −1 at its end. The classic sweep is a single global running sum —
    // a one-partition sort at scale — so the engine runs the TWO-LEVEL
    // scan instead: a within-day running sum (day-partitioned window)
    // plus per-day carry-in offsets from the 30-row day-net frame. Ends
    // sort before starts at the same instant (delta ascending), making
    // touching sessions non-concurrent.
    Q("events_concurrency_sweep",
      Some(
        """WITH e AS (SELECT user_id, ts,
          |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
          |    (PARTITION BY user_id ORDER BY ts, event_id) > 86400000000
          |    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      IS NULL THEN 1 ELSE 0 END AS new_s,
          |  event_id FROM events),
          |s AS (SELECT user_id, ts,
          |  CAST(sum(new_s) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS BIGINT) AS sid FROM e),
          |iv AS (SELECT user_id, sid, min(ts) AS st, max(ts) AS en
          |  FROM s GROUP BY user_id, sid),
          |b AS (SELECT st AS ts, 1 AS delta FROM iv
          |  UNION ALL SELECT en, -1 FROM iv),
          |r AS (SELECT CAST(strftime(ts, '%d') AS BIGINT) AS day, delta,
          |  CAST(sum(delta) OVER (ORDER BY ts, delta
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS conc FROM b)
          |SELECT day, CAST(count(*) AS BIGINT) AS boundaries,
          |  CAST(max(conc) AS BIGINT) AS max_concurrency
          |FROM r GROUP BY day ORDER BY day
          |""".stripMargin),
      (s, dir) => {
        val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val iv = H.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("new_s", when(
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wu)
              > 86400000000L ||
              lag(col("ts"), 1).over(wu).isNull, 1).otherwise(0))
          .withColumn("sid", sum("new_s").over(wu).cast("long"))
          .groupBy("user_id", "sid")
          .agg(min("ts").as("st"), max("ts").as("en"))
          .localCheckpoint() // both boundary rows derive from it
        val b = iv.select(col("st").as("ts"), lit(1L).as("delta"))
          .unionAll(iv.select(col("en").as("ts"), lit(-1L).as("delta")))
          .withColumn("day", date_format(col("ts"), "d").cast("long"))
        // two-level scan: per-day local prefix + cumulative carry-in of
        // prior days' net deltas (the day-net frame is 30 rows)
        val wd = Window.partitionBy("day").orderBy("ts", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = b.withColumn("lconc", sum("delta").over(wd))
        val wcarry = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = b.groupBy("day")
          .agg(sum("delta").cast("long").as("net"))
          .withColumn("carry",
            coalesce(sum("net").over(wcarry), lit(0L)))
          .select(col("day").as("cd"), col("carry"))
        val out = local
          .join(broadcast(carry), col("day") === col("cd"))
          .withColumn("conc", col("lconc") + col("carry"))
          .groupBy("day")
          .agg(count(lit(1)).cast("long").as("boundaries"),
            max("conc").cast("long").as("max_concurrency"))
          .orderBy("day")
        H.materialized(out, caches = Nil, checkpoints = Seq(iv))
      }),

    // Dormancy winback: a customer ordering again after a gap > 45 days.
    // Per order-month: winback orders, distinct reactivated customers,
    // and total dormant days recovered. One per-customer window pass over
    // orders; the month rollup is a tiny reduce.
    Q("orders_dormancy_winback",
      Some(
        """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
          |  lag(o_orderdate) OVER (PARTITION BY o_custkey
          |    ORDER BY o_orderdate, o_orderkey) AS prev FROM orders),
          |wb AS (SELECT o_custkey, o_orderkey, o_orderdate,
          |  date_diff('day', prev, o_orderdate) AS gap_days FROM o
          |  WHERE prev IS NOT NULL
          |    AND date_diff('day', prev, o_orderdate) > 45)
          |SELECT strftime(o_orderdate, '%Y-%m') AS month,
          |  CAST(count(*) AS BIGINT) AS winbacks,
          |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS customers,
          |  CAST(sum(gap_days) AS BIGINT) AS dormant_days
          |FROM wb GROUP BY month ORDER BY month
          |""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        tbl(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
          .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
          .filter(col("prev").isNotNull)
          .withColumn("gap_days",
            datediff(col("o_orderdate"), col("prev")).cast("long"))
          .filter(col("gap_days") > 45)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).cast("long").as("winbacks"),
            count_distinct(col("o_custkey")).cast("long").as("customers"),
            sum("gap_days").cast("long").as("dormant_days"))
          .orderBy("month")
      }))
}
