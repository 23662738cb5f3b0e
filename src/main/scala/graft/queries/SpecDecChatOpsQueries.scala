package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-11 waves 168-169: two LLM-serving/data-prep census ops —
  * speculative-decoding acceptance analysis and chat-template structural
  * validation with loss-mask accounting.
  *
  * Both synthesize their instance deterministically from `documents`
  * (the repo's md5 48-bit fold), so the engine and the DuckDB oracle
  * reconstruct the identical instance at any scale.
  */
object SpecDecChatOpsQueries extends QueryModule {

  /** The chat-template audit as a reusable per-conversation frame —
    * shared with the pipeline_rlhf_prep capstone so the capstone's
    * validity gate can NEVER desync from the judged dq_chat_template op.
    * SQL: CTE chain ending in relation `chatv`(doc_id, v_alt, v_empty,
    * v_noasst, v_final, asst_chars, all_chars, valid). */
  private[queries] def chatAuditSql: String = {
    val f0 = H.md5PrefixSql("'ct:' || CAST(doc_id AS VARCHAR)", 12)
    val fr = H.md5PrefixSql(
      "'cr:' || CAST(doc_id AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 12)
    val fe = H.md5PrefixSql(
      "'ce:' || CAST(doc_id AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 12)
    s"""chatd AS (SELECT doc_id, text,
       |    2 + ($f0) % 6 AS nt, ($f0) % 3 = 0 AS has_sys
       |  FROM documents),
       |chattu AS (SELECT doc_id, text, nt, has_sys,
       |    unnest(generate_series(0, nt - 1)) AS t FROM chatd),
       |chatr AS (SELECT doc_id, nt, t,
       |    CASE WHEN ($fr) % 13 = 0 THEN 'user'
       |      WHEN t = 0 AND has_sys THEN 'system'
       |      WHEN has_sys THEN
       |        (CASE WHEN (t - 1) % 2 = 0 THEN 'user' ELSE 'assistant' END)
       |      ELSE (CASE WHEN t % 2 = 0 THEN 'user' ELSE 'assistant' END)
       |    END AS role,
       |    CASE WHEN ($fe) % 17 = 0 THEN ''
       |      ELSE trim(substr(text, 1 + t*37, 37)) END AS content
       |  FROM chattu),
       |chatl AS (SELECT *, lag(role) OVER
       |    (PARTITION BY doc_id ORDER BY t) AS prev FROM chatr),
       |chatc AS (SELECT doc_id,
       |    max(CASE WHEN prev IS NOT NULL AND role = prev
       |      THEN 1 ELSE 0 END) AS v_alt,
       |    max(CASE WHEN content = '' THEN 1 ELSE 0 END) AS v_empty,
       |    1 - max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
       |      AS v_noasst,
       |    max(CASE WHEN t = nt - 1 AND role <> 'assistant'
       |      THEN 1 ELSE 0 END) AS v_final,
       |    sum(CASE WHEN role = 'assistant' THEN length(content)
       |      ELSE 0 END) AS asst_chars,
       |    sum(length(content)) AS all_chars
       |  FROM chatl GROUP BY doc_id),
       |chatv AS (SELECT *, CASE WHEN v_alt = 0 AND v_empty = 0
       |    AND v_noasst = 0 AND v_final = 0 THEN 1 ELSE 0 END AS valid
       |  FROM chatc)""".stripMargin
  }

  /** Spark twin of [[chatAuditSql]]'s `chatv` relation. */
  private[queries] def chatAuditDf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // spread by doc_id: the md5-fold role/content synthesis is CPU-dense
    // above a one-task single-file scan, and the downstream lag window's
    // ClusteredDistribution(doc_id) is satisfied by this same exchange,
    // so the repartition costs nothing extra
    val d = graft.H.spread(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .withColumn("f0", H.md5Prefix(concat(lit("ct:"), col("doc_id").cast("string")), 12))
      .select(col("doc_id"), col("text"),
        (lit(2L) + col("f0") % 6).as("nt"), (col("f0") % 3 === 0).as("has_sys"))
    val tu = d.select(col("doc_id"), col("text"), col("nt"), col("has_sys"),
      explode(expr("sequence(0L, nt - 1)")).as("t"))
    val r = tu.select(col("doc_id"), col("nt"), col("t"),
      when(H.md5Prefix(concat(lit("cr:"), col("doc_id").cast("string"),
        lit(":"), col("t").cast("string")), 12) % 13 === 0, "user")
        .when(col("t") === 0 && col("has_sys"), "system")
        .when(col("has_sys"),
          when((col("t") - 1) % 2 === 0, "user").otherwise("assistant"))
        .otherwise(when(col("t") % 2 === 0, "user").otherwise("assistant"))
        .as("role"),
      when(H.md5Prefix(concat(lit("ce:"), col("doc_id").cast("string"),
        lit(":"), col("t").cast("string")), 12) % 17 === 0, "")
        .otherwise(trim(expr("substr(text, CAST(1 + t*37 AS INT), 37)")))
        .as("content"))
    val l = r.withColumn("prev",
      lag("role", 1).over(Window.partitionBy("doc_id").orderBy("t")))
    val c = l.groupBy("doc_id").agg(
      max(when(col("prev").isNotNull && col("role") === col("prev"), 1)
        .otherwise(0)).as("v_alt"),
      max(when(col("content") === "", 1).otherwise(0)).as("v_empty"),
      (lit(1) - max(when(col("role") === "assistant", 1).otherwise(0)))
        .as("v_noasst"),
      max(when(col("t") === col("nt") - 1 && col("role") =!= "assistant", 1)
        .otherwise(0)).as("v_final"),
      sum(when(col("role") === "assistant", length(col("content")))
        .otherwise(0L)).as("asst_chars"),
      sum(length(col("content"))).as("all_chars"))
    c.withColumn("valid",
      when(col("v_alt") === 0 && col("v_empty") === 0 &&
        col("v_noasst") === 0 && col("v_final") === 0, 1).otherwise(0))
  }

  def all: Seq[Q] = Seq(

    // SPECULATIVE DECODING acceptance census: the draft model proposes
    // γ-token blocks; the target accepts the longest matching prefix and
    // emits accepted+1 tokens per step (the rejection-resample token, or
    // the bonus token when the whole block matches). Draft/target
    // disagreement is a deterministic 10% hash pattern per (doc, token
    // index), so acceptance length a per block = first corrupted slot
    // (else block length). The engine never materializes per-TOKEN rows:
    // blocks are generated directly (explode of n/γ indices) and the ≤γ
    // slot checks are inlined per block row (γ ≤ 8, bounded) — one
    // linear pass per face, one 17-key reduce. Output per (γ, a):
    // block count, plus per-γ emitted totals and tokens-per-step — the
    // speedup planning stat a serving deployment reads before enabling
    // speculative decoding.
    Q("serve_specdec_accept",
      Some {
        def face(g: Int) = {
          val slots = (0 until g).map { sl =>
            val f = H.md5PrefixSql(
              s"'sd:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j*$g+$sl AS VARCHAR)", 12)
            s"CASE WHEN $sl < least($g, n - j*$g) AND ($f) % 10 = 0 THEN $sl END"
          }.mkString(", ")
          s"""SELECT CAST($g AS BIGINT) AS gamma, CAST(a AS BIGINT) AS a,
             |  CAST(c AS BIGINT) AS n_blocks,
             |  CAST(sum(c * (a + 1)) OVER () AS BIGINT) AS emitted_total,
             |  CAST(sum(c) OVER () AS BIGINT) AS n_steps,
             |  CAST(sum(c * (a + 1)) OVER () * 1000
             |    // sum(c) OVER () AS BIGINT) AS tokens_per_step_milli
             |FROM (SELECT acc AS a, count(*) AS c FROM (
             |  SELECT coalesce(least($slots), least($g, n - j*$g)) AS acc
             |  FROM (SELECT doc_id, n,
             |      unnest(generate_series(0, (n + $g - 1)//$g - 1)) AS j
             |    FROM (SELECT doc_id, len(string_split(text, ' ')) AS n
             |      FROM documents))) GROUP BY 1)""".stripMargin
        }
        Seq(2, 4, 8).map(face).mkString(" UNION ALL ") +
          " ORDER BY gamma, a"
      },
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n"))
        val faces = Seq(2, 4, 8).map { g =>
          val b = d.select(col("doc_id"), col("n"),
            explode(expr(s"sequence(0L, (n + ${g - 1}) div $g - 1)")).as("j"))
            .withColumn("bl", least(lit(g.toLong), col("n") - col("j") * g))
          val slots = (0 until g).map { sl =>
            when(lit(sl) < col("bl") &&
              H.md5Prefix(concat(lit("sd:"), col("doc_id").cast("string"),
                lit(":"), (col("j") * g + sl).cast("string")), 12) % 10 === 0,
              lit(sl.toLong))
          }
          val hist = b
            .select(coalesce(least(slots: _*), col("bl")).as("a"))
            .groupBy("a").agg(count(lit(1)).cast("long").as("n_blocks"))
            .localCheckpoint() // ≤γ+1 rows, read twice (hist + totals)
          val tot = hist.agg(
            sum(col("n_blocks") * (col("a") + 1)).cast("long").as("emitted_total"),
            sum("n_blocks").cast("long").as("n_steps"))
          hist.crossJoin(broadcast(tot))
            .select(lit(g.toLong).as("gamma"), col("a").cast("long").as("a"),
              col("n_blocks"), col("emitted_total"), col("n_steps"),
              expr("emitted_total * 1000 div n_steps")
                .as("tokens_per_step_milli"))
        }
        faces.reduce(_ unionByName _).orderBy("gamma", "a")
      }),

    // CHAT-TEMPLATE VALIDATION + loss-mask accounting: conversations are
    // synthesized per doc (2-7 turns, optional system head, alternating
    // user/assistant, deterministic role/empty corruptions), then audited
    // for the four structural rules an SFT data gate enforces — role
    // alternation, no empty turns, at least one assistant turn, final
    // turn is assistant — and the loss-mask char mass (assistant-turn
    // content of VALID conversations only) is totaled. One explode
    // (≤7 turn rows per doc), one per-conversation window (partitioned
    // by doc — bounded frames), one global reduce.
    Q("dq_chat_template",
      Some {
        s"""WITH $chatAuditSql,
           |v AS (SELECT * FROM chatv)
           |SELECT CAST(count(*) AS BIGINT) AS n_convs,
           |  CAST(sum(valid) AS BIGINT) AS n_valid,
           |  CAST(sum(v_alt) AS BIGINT) AS n_alt_viol,
           |  CAST(sum(v_empty) AS BIGINT) AS n_empty_viol,
           |  CAST(sum(v_noasst) AS BIGINT) AS n_no_assistant,
           |  CAST(sum(v_final) AS BIGINT) AS n_bad_final,
           |  CAST(sum(CASE WHEN valid = 1 THEN asst_chars ELSE 0 END)
           |    AS BIGINT) AS mask_chars,
           |  CAST(sum(CASE WHEN valid = 1 THEN all_chars ELSE 0 END)
           |    AS BIGINT) AS content_chars,
           |  CAST(sum(CASE WHEN valid = 1 THEN asst_chars ELSE 0 END) * 1000
           |    // greatest(sum(CASE WHEN valid = 1 THEN all_chars
           |      ELSE 0 END), 1) AS BIGINT) AS mask_ratio_milli
           |FROM v
           |""".stripMargin
      },
      (s, dir) => {
        val v = chatAuditDf(s, dir)
        v.agg(count(lit(1)).cast("long").as("n_convs"),
            sum("valid").cast("long").as("n_valid"),
            sum("v_alt").cast("long").as("n_alt_viol"),
            sum("v_empty").cast("long").as("n_empty_viol"),
            sum("v_noasst").cast("long").as("n_no_assistant"),
            sum("v_final").cast("long").as("n_bad_final"),
            sum(when(col("valid") === 1, col("asst_chars")).otherwise(0L))
              .cast("long").as("mask_chars"),
            sum(when(col("valid") === 1, col("all_chars")).otherwise(0L))
              .cast("long").as("content_chars"))
          .withColumn("mask_ratio_milli",
            expr("mask_chars * 1000 div greatest(content_chars, 1)"))
      })
  )
}
