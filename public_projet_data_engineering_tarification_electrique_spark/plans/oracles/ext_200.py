"""DuckDB oracle SQL — standalone entries (q200-band).

Verbatim extraction from plans/registry.py (round 11); see core.py
for the parity contract. ORACLE_SQL here is module-local and merged
by plans/oracles/__init__.
"""

ORACLE_SQL: dict[str, str] = {}

ORACLE_SQL["q200_join_cardinality"] = """
    WITH la AS (
      SELECT l_orderkey AS k, count(*) AS ca,
             sum(CASE WHEN ('0x' || substr(md5(
                       l_orderkey || '-' || l_linenumber), 1, 6))::BIGINT
                       % 100 < 10
                 THEN 1 ELSE 0 END) AS cs
      FROM lineitem GROUP BY 1
    ), rb AS (
      SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1
    ), totals AS (
      SELECT sum(ca * cb) AS actual, sum(cs * cb) AS sampled
      FROM la JOIN rb USING (k)
    )
    SELECT cast(actual AS BIGINT) AS actual_rows,
           cast(sampled * 100 / 10 AS BIGINT) AS estimated_rows,
           CASE WHEN actual > 0
                THEN round(abs(sampled * 100.0 / 10 - actual)
                           / cast(actual AS DOUBLE), 6)
           END AS rel_err
    FROM totals
"""

ORACLE_SQL["q201_sparse_cosine_pairs"] = """
    WITH tf AS (
      SELECT doc_id AS id, tok, count(*) AS tf
      FROM (
        SELECT doc_id, unnest(
          CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> concat_ws(' ', t[i], t[i+1],
                                                  t[i+2]))
               ELSE [array_to_string(t, ' ')] END) AS tok
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents)
      ) GROUP BY 1, 2
    ), dfreq AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ), nd AS (
      SELECT count(*) AS n FROM documents
    ), weighted AS (
      SELECT id, t.tok,
             cast(round(round(t.tf * (ln((nd.n + 1.0) / (d.df + 1.0))
                                      + 1.0), 4) * 10000) AS BIGINT)
               AS w
      FROM tf t JOIN dfreq d ON t.tok = d.tok AND d.df <= 100
      CROSS JOIN nd
    ), norms AS (
      SELECT id, sum(w * w) AS nn FROM weighted GROUP BY 1
    ), dots AS (
      SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
      FROM weighted a JOIN weighted b
        ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(dot / (sqrt(cast(na.nn AS DOUBLE))
                        * sqrt(cast(nb.nn AS DOUBLE))), 6) AS cos
    FROM dots
    JOIN norms na ON na.id = id_a
    JOIN norms nb ON nb.id = id_b
    WHERE na.nn > 0 AND nb.nn > 0
      AND round(dot / (sqrt(cast(na.nn AS DOUBLE))
                       * sqrt(cast(nb.nn AS DOUBLE))), 6) >= 0.3
"""

ORACLE_SQL["q202_consistent_hash"] = """
    WITH kh AS (
      SELECT k, ('0x' || substr(md5(cast(k AS VARCHAR)), 1, 15))::BIGINT
               AS khash
      FROM (SELECT DISTINCT user_id AS k FROM events
            WHERE user_id IS NOT NULL)
    ), p0 AS (
      SELECT cast(i AS INTEGER) AS sid,
             ('0x' || substr(md5('shard-' || i), 1, 15))::BIGINT AS ph
      FROM range(8) t(i)
    ), p1 AS (
      SELECT cast(i AS INTEGER) AS sid,
             ('0x' || substr(md5('shard-' || i), 1, 15))::BIGINT AS ph
      FROM range(9) t(i)
    ), r0 AS (
      SELECT k, coalesce(
               arg_min(sid, CASE WHEN ph >= khash THEN ph END),
               arg_min(sid, ph)) AS s
      FROM kh CROSS JOIN p0 GROUP BY k
    ), r1 AS (
      SELECT k, coalesce(
               arg_min(sid, CASE WHEN ph >= khash THEN ph END),
               arg_min(sid, ph)) AS s
      FROM kh CROSS JOIN p1 GROUP BY k
    ), ring AS (
      SELECT 'ring' AS scheme, count(*) AS n_keys,
             sum(CASE WHEN r0.s <> r1.s THEN 1 ELSE 0 END) AS n_moved
      FROM r0 JOIN r1 USING (k)
    ), m AS (
      SELECT 'mod' AS scheme, count(*) AS n_keys,
             sum(CASE WHEN khash % 8 <> khash % 9 THEN 1 ELSE 0 END)
               AS n_moved
      FROM kh
    )
    SELECT scheme, cast(n_keys AS BIGINT) AS n_keys,
           cast(n_moved AS BIGINT) AS n_moved,
           round(n_moved / cast(n_keys AS DOUBLE), 6) AS moved_frac
    FROM (SELECT * FROM ring UNION ALL SELECT * FROM m)
"""

ORACLE_SQL["q203_gap_histogram"] = """
    WITH gaps AS (
      SELECT (epoch_us(ts)
              - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts), event_id))
             // 1000000 AS gap_s
      FROM events
    )
    SELECT cast(length(bin(gap_s + 1)) AS INTEGER) AS gap_bucket,
           cast(count(*) AS BIGINT) AS n_gaps,
           cast(min(gap_s) AS BIGINT) AS min_gap_s,
           cast(max(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
"""

ORACLE_SQL["q204_dim_variance"] = """
    WITH e AS (
      SELECT unnest(range(0, len(embedding))) AS dim,
             cast(round(unnest(embedding)::DOUBLE * 10000) AS BIGINT) AS g
      FROM embeddings
    ), agg AS (
      SELECT dim, count(*) AS n, sum(g) AS s, sum(g * g) AS ss
      FROM e GROUP BY 1
    ), scored AS (
      SELECT dim, n,
             round((n * ss - s * s) / (n * n * 1e8), 6) AS variance
      FROM agg
    )
    SELECT cast(dim AS INTEGER) AS dim, cast(n AS BIGINT) AS n, variance,
           cast(row_number() OVER (ORDER BY variance DESC, dim ASC)
                AS INTEGER) AS rank
    FROM scored
"""

ORACLE_SQL["q205_zipf_slope"] = """
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
                                                   '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, count(*) AS f FROM toks GROUP BY 1
    ), top AS (
      SELECT tok, f FROM freq ORDER BY f DESC, tok ASC LIMIT 100
    ), xy AS (
      SELECT ln(cast(row_number() OVER (ORDER BY f DESC, tok ASC)
                     AS DOUBLE)) AS x,
             ln(cast(f AS DOUBLE)) AS y
      FROM top
    ), agg AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM xy
    )
    SELECT cast(n AS BIGINT) AS n_terms,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx)
                           + 1e-9, 4)
           END AS slope
    FROM agg
"""

ORACLE_SQL["q206_distinctive_terms"] = """
    WITH toks AS (
      SELECT source AS g,
             unnest(list_filter(string_split_regex(trim(lower(text)),
                                                   '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ), sc AS (
      SELECT g, tok, count(*) AS c FROM toks GROUP BY 1, 2
    ), cc AS (
      SELECT tok, sum(c) AS ct FROM sc GROUP BY 1
    ), st AS (
      SELECT g, sum(c) AS ns FROM sc GROUP BY 1
    ), v AS (
      SELECT count(*) AS v, sum(ct) AS n FROM cc
    ), scored AS (
      SELECT g, tok, c,
             round(ln((c + 1.0) / (ns + v) * (n + v) / (ct + 1.0))
                   + 1e-9, 4) AS score
      FROM sc JOIN cc USING (tok) JOIN st USING (g) CROSS JOIN v
    ), ranked AS (
      SELECT g, tok, c, score,
             row_number() OVER (PARTITION BY g
                                ORDER BY score DESC, tok ASC) AS rk
      FROM scored
    )
    SELECT g AS source, tok AS token, cast(c AS BIGINT) AS n_in_slice,
           score, cast(rk AS INTEGER) AS rank
    FROM ranked WHERE rk <= 5
"""

ORACLE_SQL["q207_psi_drift"] = """
    WITH base AS (
      SELECT least(cast(round(least(greatest(value / 100.0, 0.0), 1.0)
                              * 10000) AS BIGINT) * 10 // 10000,
                   9) AS bin,
             (event_type = 'click') AS is_a
      FROM events WHERE event_type IN ('click', 'view')
    ), cells AS (
      SELECT bin,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
      FROM base GROUP BY 1
    ), totals AS (
      SELECT sum(ca) AS na, sum(cb) AS nb FROM cells
    ), terms AS (
      SELECT na, nb,
             ((ca + 1.0) / (na + 10.0) - (cb + 1.0) / (nb + 10.0))
               * ln((ca + 1.0) / (na + 10.0)
                    * (nb + 10.0) / (cb + 1.0)) AS term
      FROM cells CROSS JOIN totals
    )
    SELECT cast(max(na) AS BIGINT) AS n_a,
           cast(max(nb) AS BIGINT) AS n_b,
           round(sum(term) + 1e-9, 6) AS psi
    FROM terms
"""

ORACLE_SQL["q208_norm_audit"] = """
    WITH norms AS (
      SELECT vec_id AS id,
             cast(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * 10000) AS BIGINT) AS ne4
      FROM embeddings
    ), med AS (
      SELECT cast(round(median(ne4)) AS BIGINT) AS m FROM norms
    ), dev AS (
      SELECT id, ne4, m, abs(ne4 - m) AS ad FROM norms CROSS JOIN med
    ), mad AS (
      SELECT cast(round(median(ad)) AS BIGINT) AS md FROM dev
    ), fl AS (
      SELECT * FROM dev CROSS JOIN mad
    )
    SELECT '_summary' AS kind, cast(NULL AS BIGINT) AS vec_id,
           cast(NULL AS BIGINT) AS norm_e4,
           cast(count(*) AS BIGINT) AS n,
           max(m) AS median_e4, max(md) AS mad_e4
    FROM fl
    UNION ALL
    SELECT 'outlier', id, ne4, cast(NULL AS BIGINT), m, md
    FROM fl WHERE ad > 5 * md
"""

ORACLE_SQL["q209_session_durations"] = """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_s,
             CASE WHEN lag(ts_s) OVER w IS NULL
                       OR ts_s - lag(ts_s) OVER w > 1800
                  THEN 1 ELSE 0 END AS b
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ), sess AS (
      SELECT user_id, ts_s,
             sum(b) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), durs AS (
      SELECT max(ts_s) - min(ts_s) AS dur
      FROM sess GROUP BY user_id, sid
    )
    SELECT cast(length(bin(dur + 1)) AS INTEGER) AS duration_bucket,
           cast(count(*) AS BIGINT) AS n_sessions,
           cast(min(dur) AS BIGINT) AS min_s,
           cast(max(dur) AS BIGINT) AS max_s
    FROM durs GROUP BY 1
"""

ORACLE_SQL["q212_dpp_prune"] = """
    SELECT cast(year(l_shipdate) AS INTEGER) AS ship_year,
           cast(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE year(l_shipdate) IN (
      SELECT DISTINCT year(o_orderdate) FROM orders
      WHERE year(o_orderdate) >= 1997
    )
    GROUP BY 1
"""

ORACLE_SQL["q214_transform_with_state"] = """
    SELECT user_id,
           cast(count(*) AS BIGINT) AS n_events,
           cast(sum(coalesce(cast(round(value * 100) AS BIGINT), 0))
                AS BIGINT) AS value_e2
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1
"""

ORACLE_SQL["q215_pipe_syntax"] = """
    SELECT o_orderpriority,
           cast(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
"""

ORACLE_SQL["q216_iter_pandas_udf"] = """
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n,
           cast(sum((cast(floor(least(greatest(coalesce(value, 0.0), 0.0),
                                      99.0)) AS BIGINT)
                     * 2654435761) % 2048 - 1024) AS BIGINT) AS weight_sum
    FROM events
    GROUP BY 1
"""

ORACLE_SQL["q219_delete_cascade"] = """
    WITH targets AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ), orders_hit AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM targets)
    ), li_hit AS (
      SELECT 1 AS x FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders_hit)
    )
    SELECT 'customer' AS entity,
           (SELECT cast(count(*) AS BIGINT) FROM targets) AS n_delete,
           (SELECT cast(count(*) AS BIGINT) FROM customer) AS n_total,
           round((SELECT count(*) FROM targets) * 1.0
                 / (SELECT count(*) FROM customer), 6) AS delete_fraction
    UNION ALL
    SELECT 'orders',
           (SELECT cast(count(*) AS BIGINT) FROM orders_hit),
           (SELECT cast(count(*) AS BIGINT) FROM orders),
           round((SELECT count(*) FROM orders_hit) * 1.0
                 / (SELECT count(*) FROM orders), 6)
    UNION ALL
    SELECT 'lineitem',
           (SELECT cast(count(*) AS BIGINT) FROM li_hit),
           (SELECT cast(count(*) AS BIGINT) FROM lineitem),
           round((SELECT count(*) FROM li_hit) * 1.0
                 / (SELECT count(*) FROM lineitem), 6)
"""

ORACLE_SQL["q220_padding_waste"] = """
    WITH lens AS (
      SELECT len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> x <> '')) AS n
      FROM documents
    ), bs AS (
      SELECT unnest([128, 256, 512]) AS b
    ), agg AS (
      SELECT cast(b AS INTEGER) AS seq_len,
             cast(count(*) AS BIGINT) AS n_docs,
             cast(sum(CASE WHEN n > 0 THEN (n + b - 1) // b ELSE 0 END)
                  AS BIGINT) AS n_sequences,
             cast(sum(n) AS BIGINT) AS total_tokens,
             cast(sum(CASE WHEN n > 0 THEN (n + b - 1) // b ELSE 0 END) * b
                  AS BIGINT) AS padded_tokens
      FROM lens CROSS JOIN bs GROUP BY b
    )
    SELECT seq_len, n_docs, n_sequences, total_tokens, padded_tokens,
           round(1 - total_tokens
                     / nullif(padded_tokens::DOUBLE, 0.0) + 1e-9, 4)
             AS waste_fraction
    FROM agg
"""

ORACLE_SQL["q222_item_cooccurrence"] = """
    WITH ui AS (
      SELECT DISTINCT user_id AS u,
             cast(json_extract_string(props, '$.k') AS INTEGER) AS item
      FROM events
      WHERE user_id IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ), capped AS (
      SELECT u, item FROM (
        SELECT u, item,
               row_number() OVER (PARTITION BY u ORDER BY item ASC) AS rk
        FROM ui) WHERE rk <= 200
    ), freqs AS (
      SELECT item, cast(count(*) AS BIGINT) AS freq FROM capped GROUP BY 1
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             cast(count(*) AS BIGINT) AS cooc
      FROM capped a JOIN capped b ON a.u = b.u AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT item_a, item_b, cooc, fa.freq AS freq_a, fb.freq AS freq_b,
           round(cooc / sqrt((fa.freq * fb.freq)::DOUBLE), 4) AS cosine
    FROM pairs
    JOIN freqs fa ON pairs.item_a = fa.item
    JOIN freqs fb ON pairs.item_b = fb.item
    ORDER BY cosine DESC, item_a ASC, item_b ASC
    LIMIT 20
"""

ORACLE_SQL["q223_fuzzy_vocab_join"] = """
    WITH v AS (
      SELECT DISTINCT unnest(list_filter(string_split(p_name, ' '),
                                         x -> x <> '')) AS w
      FROM part
    )
    SELECT a.w AS word_a, b.w AS word_b,
           cast(levenshtein(a.w, b.w) AS INTEGER) AS dist
    FROM v a JOIN v b ON a.w < b.w
    WHERE levenshtein(a.w, b.w) <= 1
"""

ORACLE_SQL["q224_pareto_frontier"] = """
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), sc AS (
      SELECT len(t) AS n_tokens,
             (len(list_distinct(t)) * 10000) // len(t) AS diversity_e4
      FROM toks WHERE len(t) > 0
    ), lv AS (
      SELECT n_tokens AS x, max(diversity_e4) AS y FROM sc GROUP BY 1
    ), fr AS (
      SELECT x, y,
             max(y) OVER (ORDER BY x DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS b
      FROM lv
    ), pts AS (
      SELECT x, y FROM fr WHERE b IS NULL OR y > b
    ), cnt AS (
      SELECT n_tokens AS x, diversity_e4 AS y,
             cast(count(*) AS BIGINT) AS n_rows
      FROM sc GROUP BY 1, 2
    )
    SELECT cast(p.x AS INTEGER) AS n_tokens,
           cast(p.y AS BIGINT) AS diversity_e4,
           n_rows
    FROM pts p JOIN cnt USING (x, y)
"""

ORACLE_SQL["q225_quantile_normalize"] = """
    WITH base AS (
      SELECT event_type AS grp, cast(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ), pooled AS (
      SELECT v, cast(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1
    ), pooled_cdf AS (
      SELECT v AS v_norm,
             sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cnt
               AS lo,
             sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi
      FROM pooled
    ), nt AS (
      SELECT cast(count(*) AS BIGINT) AS n_total FROM base
    ), glevels AS (
      SELECT grp, v, cast(count(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2
    ), gsizes AS (
      SELECT grp, cast(count(*) AS BIGINT) AS n_g FROM base GROUP BY 1
    ), gcdf AS (
      SELECT g.grp, g.v, g.cnt,
             sum(g.cnt) OVER (PARTITION BY g.grp ORDER BY g.v
                              ROWS UNBOUNDED PRECEDING) AS cum,
             s.n_g, nt.n_total
      FROM glevels g JOIN gsizes s ON g.grp = s.grp CROSS JOIN nt
    ), matched AS (
      SELECT grp, cnt, v AS v_orig, p.v_norm
      FROM (SELECT *, (cum * n_total + n_g - 1) // n_g AS target
            FROM gcdf) t
      JOIN pooled_cdf p ON t.target > p.lo AND t.target <= p.hi
    )
    SELECT grp AS event_type,
           cast(sum(cnt) AS BIGINT) AS n,
           round(sum(v_orig * cnt) / (sum(cnt) * 100.0), 4) AS mean_value,
           round(sum(v_norm * cnt) / (sum(cnt) * 100.0), 4)
             AS mean_normalized
    FROM matched GROUP BY 1
"""

ORACLE_SQL["q226_forecast_backtest"] = """
    WITH yearly AS (
      SELECT l_suppkey AS g, year(l_shipdate) AS x,
             round(avg(l_quantity), 4) AS y
      FROM lineitem GROUP BY 1, 2
    ), st AS (
      SELECT g, x, y,
             count(*) OVER wpre AS n,
             sum(x::DOUBLE) OVER wpre AS sx,
             sum(y) OVER wpre AS sy,
             sum(x::DOUBLE * y) OVER wpre AS sxy,
             sum(x::DOUBLE * x::DOUBLE) OVER wpre AS sxx
      FROM yearly
      WINDOW wpre AS (PARTITION BY g ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), fit AS (
      SELECT x, y, n,
             n * sxx - sx * sx AS varn,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             sx, sy
      FROM st
      WHERE n >= 2 AND (n * sxx - sx * sx) <> 0
        AND y IS NOT NULL AND y <> 0
    ), ev AS (
      SELECT x,
             cast(round(abs(((sy - slope * sx) / n + slope * x::DOUBLE) - y)
                        / abs(y) * 1e6 + 1e-9) AS BIGINT) AS ape_e6
      FROM fit
    )
    SELECT cast(x AS INTEGER) AS annee,
           cast(count(*) AS BIGINT) AS n_series,
           round(sum(ape_e6) / (count(*) * 1e4), 4) AS mape_pct
    FROM ev GROUP BY 1
"""

ORACLE_SQL["q229_merge_upsert"] = """
    WITH t AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             max(o_orderdate) AS last_date
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1
    ), s AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             max(o_orderdate) AS last_date,
             CASE WHEN o_custkey % 50 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1
    ), m AS (
      SELECT coalesce(t.custkey, s.custkey) AS custkey,
             t.custkey IS NOT NULL AND s.custkey IS NOT NULL AS matched,
             t.custkey IS NULL AS src_only,
             t.n_orders AS t_n, t.total_cents AS t_c, t.last_date AS t_d,
             s.n_orders AS s_n, s.total_cents AS s_c, s.last_date AS s_d,
             s.op
      FROM t FULL OUTER JOIN s ON t.custkey = s.custkey
    )
    SELECT custkey,
           cast(CASE WHEN matched THEN t_n + s_n
                     WHEN src_only THEN s_n ELSE t_n END AS BIGINT)
             AS n_orders,
           round((CASE WHEN matched THEN t_c + s_c
                       WHEN src_only THEN s_c ELSE t_c END) / 100.0, 2)
             AS total_price,
           strftime(CASE WHEN matched THEN greatest(t_d, s_d)
                         WHEN src_only THEN s_d ELSE t_d END, '%Y-%m-%d')
             AS last_date
    FROM m
    WHERE NOT (matched AND op = 'D') AND NOT (src_only AND op = 'D')
"""

ORACLE_SQL["q230_stream_dedup"] = """
    SELECT cast(count(*) AS BIGINT) AS n_docs,
           cast(count(DISTINCT md5(substr(trim(regexp_replace(
                  lower(text), '\\s+', ' ', 'g')), 1, 40)))
                AS BIGINT) AS n_kept,
           cast(count(*) - count(DISTINCT md5(substr(trim(regexp_replace(
                  lower(text), '\\s+', ' ', 'g')), 1, 40)))
                AS BIGINT) AS n_dropped
    FROM documents
"""

# The ledgered-replay digest: the CDC batch applied exactly ONCE
# (replays with the same batch_id are skipped by the ledger), so the
# summary is the plain one-application full-outer merge — which for an
# unconditional additive upsert is the all-orders digest.
ORACLE_SQL["q234_merge_ledger"] = """
    WITH t AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1
    ), s AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1
    ), m AS (
      SELECT coalesce(t.custkey, s.custkey) AS custkey,
             coalesce(t.n_orders, 0) + coalesce(s.n_orders, 0) AS n_orders,
             coalesce(t.total_cents, 0) + coalesce(s.total_cents, 0)
               AS total_cents
      FROM t FULL OUTER JOIN s ON t.custkey = s.custkey
    )
    SELECT cast(count(*) AS BIGINT) AS n_keys,
           cast(sum(n_orders) AS BIGINT) AS sum_orders,
           round(sum(total_cents) / 100.0, 2) AS total_price_sum,
           CAST(1 AS INTEGER) AS n_applied,
           CAST(2 AS INTEGER) AS n_skipped
    FROM m
"""

ORACLE_SQL["q235_merge_cdf"] = """
    WITH t AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             max(o_orderdate) AS last_date
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1
    ), s AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             max(o_orderdate) AS last_date,
             CASE WHEN o_custkey % 50 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1
    ), m AS (
      SELECT coalesce(t.custkey, s.custkey) AS custkey,
             t.custkey IS NOT NULL AND s.custkey IS NOT NULL AS matched,
             t.custkey IS NULL AS src_only,
             t.n_orders AS t_n, t.total_cents AS t_c, t.last_date AS t_d,
             s.n_orders AS s_n, s.total_cents AS s_c, s.last_date AS s_d,
             s.op
      FROM t FULL OUTER JOIN s ON t.custkey = s.custkey
    )
    SELECT custkey,
           cast(CASE WHEN matched AND op = 'D' THEN t_n
                     WHEN matched THEN t_n + s_n
                     ELSE s_n END AS BIGINT) AS n_orders,
           round((CASE WHEN matched AND op = 'D' THEN t_c
                       WHEN matched THEN t_c + s_c
                       ELSE s_c END) / 100.0, 2) AS total_price,
           strftime(CASE WHEN matched AND op = 'D' THEN t_d
                         WHEN matched THEN greatest(t_d, s_d)
                         ELSE s_d END, '%Y-%m-%d') AS last_date,
           CASE WHEN matched AND op = 'D' THEN 'delete'
                WHEN matched THEN 'update'
                ELSE 'insert' END AS _change_type
    FROM m
    WHERE op IS NOT NULL AND NOT (src_only AND op = 'D')
"""

# q236: the v1 snapshot the changelog replay must reconstruct — the
# direct relational merge of the v0 base (pre-1996) with the first CDC
# epoch [1996-01-01, 1997-06-01); rows the replay never touched
# (keys whose orders all fall past the epoch) simply aren't in v1.
ORACLE_SQL["q236_time_travel"] = """
    WITH t AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             max(o_orderdate) AS last_date
      FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
    ), s AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             max(o_orderdate) AS last_date,
             CASE WHEN o_custkey % 50 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-06-01'
      GROUP BY 1
    ), m AS (
      SELECT coalesce(t.custkey, s.custkey) AS custkey,
             t.custkey IS NOT NULL AND s.custkey IS NOT NULL AS matched,
             t.custkey IS NULL AS src_only,
             t.n_orders AS t_n, t.total_cents AS t_c, t.last_date AS t_d,
             s.n_orders AS s_n, s.total_cents AS s_c, s.last_date AS s_d,
             s.op
      FROM t FULL OUTER JOIN s ON t.custkey = s.custkey
    )
    SELECT custkey,
           cast(CASE WHEN matched THEN t_n + s_n
                     WHEN src_only THEN s_n ELSE t_n END AS BIGINT)
             AS n_orders,
           round((CASE WHEN matched THEN t_c + s_c
                       WHEN src_only THEN s_c ELSE t_c END) / 100.0, 2)
             AS total_price,
           strftime(CASE WHEN matched THEN greatest(t_d, s_d)
                         WHEN src_only THEN s_d ELSE t_d END, '%Y-%m-%d')
             AS last_date
    FROM m
    WHERE NOT (matched AND op = 'D') AND NOT (src_only AND op = 'D')
"""

# q237: the view recomputed DIRECTLY from the merged final state —
# if the Spark side's retraction math (pre-image subtraction) dropped
# or double-counted anything, the per-segment sums diverge.
ORACLE_SQL["q237_incremental_agg_cdf"] = """
    WITH t AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1
    ), s AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             CASE WHEN o_custkey % 50 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1
    ), m AS (
      SELECT coalesce(t.custkey, s.custkey) AS custkey,
             t.custkey IS NOT NULL AND s.custkey IS NOT NULL AS matched,
             t.custkey IS NULL AS src_only,
             t.n_orders AS t_n, t.total_cents AS t_c,
             s.n_orders AS s_n, s.total_cents AS s_c, s.op
      FROM t FULL OUTER JOIN s ON t.custkey = s.custkey
    ), final AS (
      SELECT custkey,
             CASE WHEN matched THEN t_n + s_n
                  WHEN src_only THEN s_n ELSE t_n END AS n_orders,
             CASE WHEN matched THEN t_c + s_c
                  WHEN src_only THEN s_c ELSE t_c END AS total_cents
      FROM m
      WHERE NOT (matched AND op = 'D') AND NOT (src_only AND op = 'D')
    )
    SELECT cast(custkey % 8 AS INTEGER) AS segment,
           cast(count(*) AS BIGINT) AS n_keys,
           cast(sum(n_orders) AS BIGINT) AS sum_orders,
           round(sum(total_cents) / 100.0, 2) AS total_price_sum
    FROM final GROUP BY 1
"""

# q14's exact pair SQL restricted to the deterministic md5 id-hash
# panel (24-bit md5 prefix ≡ 0 mod 2) — the identical predicate the
# Spark side's audit_sample applies, so sample membership is pinned
# engine-independently.
ORACLE_SQL["q231_neardup_audit_panel"] = """
    WITH panel AS (
      SELECT vec_id, label, embedding
      FROM embeddings
      WHERE ('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 6))::BIGINT
            % 2 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                 6) AS sim
    FROM panel a JOIN panel b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                6) >= 0.35
"""

# q240: the post-evolution state recomputed relationally — a key's
# last_date is the batch's date iff a batch row touched it (matched
# update or insert), NULL for pre-evolution keys the CDC never saw.
ORACLE_SQL["q240_merge_schema_evolution"] = """
    WITH t AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1
    ), s AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             max(o_orderdate) AS last_date
      FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1
    )
    SELECT coalesce(t.custkey, s.custkey) AS custkey,
           cast(coalesce(t.n_orders, 0) + coalesce(s.n_orders, 0)
                AS BIGINT) AS n_orders,
           strftime(s.last_date, '%Y-%m-%d') AS last_date
    FROM t FULL OUTER JOIN s ON t.custkey = s.custkey
"""

# q241: the three-epoch CDC chain replayed relationally — per epoch,
# the Delta-CDF row set against the running state (insert /
# update_preimage / update_postimage / delete), summarized per
# (epoch, change type). A mis-ordered stream, a skipped retraction,
# or a double-applied replay all change these sums.
ORACLE_SQL["q241_stream_cdc_feed"] = """
    WITH e0 AS (
      SELECT o_custkey AS k, cast(count(*) AS BIGINT) AS n,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS c,
             CASE WHEN o_custkey % 50 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
    ), e1 AS (
      SELECT o_custkey AS k, cast(count(*) AS BIGINT) AS n,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS c,
             CASE WHEN o_custkey % 50 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-06-01'
      GROUP BY 1
    ), e2 AS (
      SELECT o_custkey AS k, cast(count(*) AS BIGINT) AS n,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS c,
             CASE WHEN o_custkey % 50 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderdate >= DATE '1997-06-01' GROUP BY 1
    ), c0 AS (
      SELECT 0 AS batch_id, 'insert' AS ct, k, n, c FROM e0 WHERE op <> 'D'
    ), s0 AS (
      SELECT k, n, c FROM e0 WHERE op <> 'D'
    ), j1 AS (
      SELECT s0.k AS tk, e1.k AS sk, s0.n AS tn, s0.c AS tc,
             e1.n AS sn, e1.c AS sc, e1.op
      FROM s0 FULL OUTER JOIN e1 ON s0.k = e1.k
    ), c1 AS (
      SELECT 1 AS batch_id, 'delete' AS ct, tk AS k, tn AS n, tc AS c
      FROM j1 WHERE tk IS NOT NULL AND sk IS NOT NULL AND op = 'D'
      UNION ALL
      SELECT 1, 'update_preimage', tk, tn, tc
      FROM j1 WHERE tk IS NOT NULL AND sk IS NOT NULL AND op <> 'D'
      UNION ALL
      SELECT 1, 'update_postimage', tk, tn + sn, tc + sc
      FROM j1 WHERE tk IS NOT NULL AND sk IS NOT NULL AND op <> 'D'
      UNION ALL
      SELECT 1, 'insert', sk, sn, sc
      FROM j1 WHERE tk IS NULL AND op <> 'D'
    ), s1 AS (
      SELECT tk AS k, tn AS n, tc AS c FROM j1
      WHERE tk IS NOT NULL AND sk IS NULL
      UNION ALL
      SELECT tk, tn + sn, tc + sc FROM j1
      WHERE tk IS NOT NULL AND sk IS NOT NULL AND op <> 'D'
      UNION ALL
      SELECT sk, sn, sc FROM j1 WHERE tk IS NULL AND op <> 'D'
    ), j2 AS (
      SELECT s1.k AS tk, e2.k AS sk, s1.n AS tn, s1.c AS tc,
             e2.n AS sn, e2.c AS sc, e2.op
      FROM s1 FULL OUTER JOIN e2 ON s1.k = e2.k
    ), c2 AS (
      SELECT 2 AS batch_id, 'delete' AS ct, tk AS k, tn AS n, tc AS c
      FROM j2 WHERE tk IS NOT NULL AND sk IS NOT NULL AND op = 'D'
      UNION ALL
      SELECT 2, 'update_preimage', tk, tn, tc
      FROM j2 WHERE tk IS NOT NULL AND sk IS NOT NULL AND op <> 'D'
      UNION ALL
      SELECT 2, 'update_postimage', tk, tn + sn, tc + sc
      FROM j2 WHERE tk IS NOT NULL AND sk IS NOT NULL AND op <> 'D'
      UNION ALL
      SELECT 2, 'insert', sk, sn, sc
      FROM j2 WHERE tk IS NULL AND op <> 'D'
    ), feed AS (
      SELECT * FROM c0 UNION ALL SELECT * FROM c1 UNION ALL
      SELECT * FROM c2
    )
    SELECT cast(batch_id AS INTEGER) AS batch_id, ct AS _change_type,
           cast(count(*) AS BIGINT) AS n_rows,
           cast(sum(n) AS BIGINT) AS sum_orders,
           round(sum(c) / 100.0, 2) AS total_price_sum
    FROM feed GROUP BY 1, 2
"""

# q239: the per-bucket digest straight from orders; the fragmentation
# booleans are in-plan assertions (q15 pattern) — a compaction that
# dropped/duplicated rows breaks n_keys/sums, one that failed to
# compact (or found nothing to compact) flips a boolean.
ORACLE_SQL["q239_compact_optimize"] = """
    WITH d AS (
      SELECT o_custkey AS custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM orders GROUP BY 1
    )
    SELECT cast(custkey % 8 AS INTEGER) AS bucket,
           cast(count(*) AS BIGINT) AS n_keys,
           cast(sum(n_orders) AS BIGINT) AS sum_orders,
           round(sum(total_cents) / 100.0, 2) AS total_price_sum,
           true AS was_fragmented,
           true AS single_file_after
    FROM d GROUP BY 1
"""

# q242: the recursive CTE replays EXACTLY the codegen fold — s_1 = v_1,
# s_t = 0.3·v_t + 0.7·s_{t−1} over 4-dp-rounded daily means, so every
# intermediate s_t is bit-identical across engines before the final
# round.
ORACLE_SQL["q242_ewma_smoothing"] = """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(avg(value) + 1e-9, 4) AS v
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT event_type, day, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ), sc AS (
      SELECT event_type, rn, day, v, v AS s FROM d WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn, d.day, d.v, 0.3 * d.v + 0.7 * sc.s
      FROM sc JOIN d ON d.event_type = sc.event_type
                    AND d.rn = sc.rn + 1
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, v,
           round(s + 1e-9, 4) AS ewma
    FROM sc
"""

# q243: identical central-moment expansions, identical association
# order — the only cross-engine difference is partial-sum order on
# S1..S4, absorbed by the terminal 4-dp round.
# Shape moments are NULL unless the variance and its square are both
# positive, the same guard as the Spark side.
ORACLE_SQL["q243_grouped_moments"] = """
    WITH s AS (
      SELECT event_type, count(*) AS n, sum(value) AS s1,
             sum(value * value) AS s2,
             sum(value * value * value) AS s3,
             sum(value * value * value * value) AS s4
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(s1 / n + 1e-9, 4) AS mean,
           round((s2 / n - (s1 / n) * (s1 / n)) + 1e-9, 4) AS var_pop,
           CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                 AND pow(s2 / n - (s1 / n) * (s1 / n), 2) > 0 THEN
             round((s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                   / pow(s2 / n - (s1 / n) * (s1 / n), 1.5)
                   + 1e-9, 4)
           END AS skewness,
           CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                 AND pow(s2 / n - (s1 / n) * (s1 / n), 2) > 0 THEN
             round((s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                   / pow(s2 / n - (s1 / n) * (s1 / n), 2)
                   - 3 + 1e-9, 4)
           END AS kurtosis
    FROM s
"""

# q244: the flat lateral-unnest self-join is the RELATIONAL statement
# of Xᵀ X (n·d(d+1)/2 intermediate rows — fine for an oracle at
# sf0.01, exactly what the Spark plan's per-partition dgemm partials
# avoid shuffling at scale). float32 entries widen exactly to double
# on both engines, so per-pair products are bit-identical and only
# summation order differs.
ORACLE_SQL["q244_gram_matrix"] = """
    WITH flat AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, 64) AS t(i)
      WHERE embedding IS NOT NULL
    )
    SELECT f1.i AS i, f2.i AS j,
           round(sum(f1.x * f2.x) + 1e-9, 4) AS g
    FROM flat f1 JOIN flat f2 USING (vec_id)
    WHERE f2.i >= f1.i
    GROUP BY 1, 2
"""

# q245: the oracle replays the identical fixed-point recurrence
# sequentially — the prepended zero struct makes list_reduce start from
# the zero init, and each step is the same (α·x + (1−α)·s, +1e-9,
# round 4) on 1e-4-grid rationals, so every intermediate state is the
# same double on both engines regardless of Spark's partitioning. The
# fold carries (d = running sum of round(s·1e4), s = state); list
# elements share the accumulator's struct type, x holding the input.
# Field order matters on DuckDB 1.0.0: with s built before d, d reads a
# wrong acc.s (sf0.01 digest off by 192124), so d comes first. This
# form matches a Python sequential replay at sf0.001, sf0.01 and sf0.1.
ORACLE_SQL["q245_ewma_scan"] = """
    WITH d AS (
      SELECT epoch_us(ts) AS us, event_id, round(value + 1e-9, 4) AS v
      FROM events WHERE value IS NOT NULL
    ), f AS (
      SELECT cast(count(*) AS BIGINT) AS n_rows,
             list_reduce(
               list_prepend(
                 {'d': CAST(0 AS BIGINT), 's': CAST(0 AS DOUBLE),
                  'x': CAST(0 AS DOUBLE)},
                 list({'d': CAST(0 AS BIGINT), 's': CAST(0 AS DOUBLE),
                       'x': v} ORDER BY us, event_id)),
               (acc, e) -> {
                 'd': acc.d + CAST(round(
                   round(0.3 * e.x + 0.7 * acc.s + 1e-9, 4) * 10000)
                   AS BIGINT),
                 's': round(0.3 * e.x + 0.7 * acc.s + 1e-9, 4),
                 'x': CAST(0 AS DOUBLE)}
             ) AS r
      FROM d
    )
    SELECT n_rows, r.s AS ewma_final, r.d AS ewma_digest FROM f
"""

# q246: identical integer-count algebra — one (x, y) cell agg,
# marginals re-aggregated from the cell table, ln args computed as
# DOUBLE products on both engines (N·c overflows int64 at N² > 9.2e18;
# HUGEINT would silently diverge from ANSI Spark).
ORACLE_SQL["q246_mutual_info"] = """
    WITH cells AS (
      SELECT coalesce(CAST(lang AS VARCHAR), '∅') AS x,
             coalesce(CAST(source AS VARCHAR), '∅') AS y,
             count(*) AS c
      FROM documents GROUP BY 1, 2
    ), cx AS (SELECT x, sum(c) AS cx FROM cells GROUP BY 1),
    cy AS (SELECT y, sum(c) AS cy FROM cells GROUP BY 1),
    tot AS (SELECT sum(c) AS n, count(*) AS cells FROM cells),
    mi AS (
      SELECT sum(c / n * ln(CAST(n AS DOUBLE) * c
                            / (CAST(cx AS DOUBLE) * cy))) AS mi
      FROM cells JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN tot
    ),
    hx AS (
      SELECT sum(-(cx / n) * ln(cx / n)) AS hx FROM cx CROSS JOIN tot
    ),
    hy AS (
      SELECT sum(-(cy / n) * ln(cy / n)) AS hy FROM cy CROSS JOIN tot
    )
    SELECT cast(n AS BIGINT) AS n, cast(cells AS BIGINT) AS n_cells,
           round(mi + 1e-9, 4) AS mi_nats,
           round(hx + 1e-9, 4) AS h_x,
           round(hy + 1e-9, 4) AS h_y,
           CASE WHEN hx > 0 AND hy > 0
                THEN round(mi / sqrt(hx * hy) + 1e-9, 4) END AS nmi
    FROM tot CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""

# q247: the leading digit comes from the decimal string of exact
# integer cents on both engines — never floor(log10(x)).
ORACLE_SQL["q247_benford_audit"] = """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             count(*) AS n
      FROM orders WHERE o_totalprice > 0 GROUP BY 1
    ), t AS (SELECT sum(n) AS tot FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           round(n / tot + 1e-9, 4) AS freq,
           round(ln(1 + 1.0 / digit) / ln(10.0) + 1e-9, 4) AS benford,
           round(n / tot - ln(1 + 1.0 / digit) / ln(10.0) + 1e-9, 4)
             AS gap
    FROM c CROSS JOIN t
"""

# q248: the oracle states the same integer construction relationally —
# window prefix sums over the cents-grid level table, lower-quantile
# pick via the cross-multiplied integer test.
ORACLE_SQL["q248_weighted_percentiles"] = """
    WITH lv AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT flag, vc, w,
             sum(w) OVER (PARTITION BY flag ORDER BY vc
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM lv
    )
    SELECT flag, CAST(max(tw) AS BIGINT) AS w_total,
           round(min(CASE WHEN cw * 100 >= 50 * tw THEN vc END)
                 / 100.0, 2) AS wp50,
           round(min(CASE WHEN cw * 100 >= 90 * tw THEN vc END)
                 / 100.0, 2) AS wp90
    FROM cum GROUP BY 1
"""

# q249: recursive CTE replays the identical KM fold — at-risk counts
# by exact integer subtraction, survival as the same sequence of
# double multiplies (base case multiplies by 1.0, an FP identity), so
# S(d) is bit-stable before the 4-dp round. Recursion depth =
# #distinct duration days (calendar-bounded).
ORACLE_SQL["q249_survival_km"] = """
    WITH RECURSIVE per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN epoch_us(ts) END) AS s,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS p
      FROM events GROUP BY 1
    ), oe AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
    subj AS (
      SELECT CASE WHEN p > s THEN (p - s) // 86400000000
                  ELSE (end_us - s) // 86400000000 END AS dur,
             CASE WHEN p > s THEN 1 ELSE 0 END AS event
      FROM per_user CROSS JOIN oe WHERE s IS NOT NULL
    ), lv AS (
      SELECT CAST(dur AS INTEGER) AS day,
             CAST(sum(event) AS BIGINT) AS ev,
             CAST(sum(1 - event) AS BIGINT) AS cen
      FROM subj GROUP BY 1
    ), tot AS (SELECT CAST(sum(ev + cen) AS BIGINT) AS n FROM lv),
    d AS (
      SELECT day, ev, cen,
             row_number() OVER (ORDER BY day) AS rn
      FROM lv
    ), sc AS (
      SELECT rn, day, ev, cen, n AS nr,
             1.0 * (1.0 - ev / n) AS surv,
             n - ev - cen AS rem
      FROM d CROSS JOIN tot WHERE rn = 1
      UNION ALL
      SELECT d.rn, d.day, d.ev, d.cen, sc.rem AS nr,
             sc.surv * (1.0 - d.ev / sc.rem) AS surv,
             sc.rem - d.ev - d.cen AS rem
      FROM sc JOIN d ON d.rn = sc.rn + 1
    )
    SELECT day, CAST(nr AS BIGINT) AS n_risk, ev AS n_events,
           cen AS n_censored,
           round(surv + 1e-9, 4) AS survival
    FROM sc WHERE ev > 0
"""

# q250: the oracle runs the identical sweep relationally — running max
# of span ends over PRECEDING rows opens islands, boundary ±1 events
# running-summed in (b, delta) order give peak concurrency. Integer
# day numbers end-to-end; ties in (lo, hi) are between identical rows,
# so every window aggregate is permutation-invariant.
ORACLE_SQL["q250_interval_coverage"] = """
    WITH spans AS (
      SELECT l_suppkey AS suppkey,
             datediff('day', DATE '1992-01-01', l_shipdate) AS lo,
             datediff('day', DATE '1992-01-01', l_shipdate)
               + CAST(l_quantity AS INTEGER) AS hi
      FROM lineitem
    ), flagged AS (
      SELECT suppkey, lo, hi,
             CASE WHEN max(hi) OVER (PARTITION BY suppkey
                                     ORDER BY lo, hi
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                       OR lo >= max(hi) OVER (PARTITION BY suppkey
                                              ORDER BY lo, hi
                                              ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM spans
    ), isl AS (
      SELECT suppkey, lo, hi,
             sum(new_island) OVER (PARTITION BY suppkey ORDER BY lo, hi
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), per_island AS (
      SELECT suppkey, island, min(lo) AS island_lo, max(hi) AS island_hi,
             count(*) AS n_spans
      FROM isl GROUP BY 1, 2
    ), cover AS (
      SELECT suppkey,
             CAST(sum(n_spans) AS BIGINT) AS n_spans,
             CAST(sum(island_hi - island_lo) AS BIGINT) AS covered_days,
             CAST(count(*) AS BIGINT) AS n_islands
      FROM per_island GROUP BY 1
    ), bounds AS (
      SELECT suppkey, lo AS b, 1 AS delta FROM spans
      UNION ALL
      SELECT suppkey, hi AS b, -1 AS delta FROM spans
    ), peak AS (
      SELECT suppkey,
             CAST(max(open) AS BIGINT) AS peak_concurrency
      FROM (
        SELECT suppkey,
               sum(delta) OVER (PARTITION BY suppkey ORDER BY b, delta
                                ROWS UNBOUNDED PRECEDING) AS open
        FROM bounds
      ) GROUP BY 1
    )
    SELECT cover.suppkey, n_spans, covered_days, n_islands,
           peak_concurrency
    FROM cover JOIN peak ON cover.suppkey = peak.suppkey
"""

# q251: the oracle states the identical minimax relationally — integer
# bin sums, (i, j) segment rates as single BIGINT/BIGINT -> DOUBLE
# divisions, then min-over-j / max-over-i. Same +1e-9 nudge pre-round
# on bit-identical doubles.
ORACLE_SQL["q251_isotonic_calibration"] = """
    WITH snapped AS (
      SELECT greatest(0, least(10000,
               CAST(round(((user_id * 2654435761) % 10001) / 10000.0
                          * 10000) AS BIGINT))) AS g,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), bins AS (
      SELECT CAST(least(g * 10 // 10000, 9) AS INTEGER) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM snapped GROUP BY 1
    ), seg AS (
      SELECT i.bin AS i, j.bin AS j,
             CAST(sum(b.sy) AS DOUBLE) / CAST(sum(b.n) AS DOUBLE)
               AS rate
      FROM bins i JOIN bins j ON i.bin <= j.bin
      JOIN bins b ON b.bin BETWEEN i.bin AND j.bin
      GROUP BY 1, 2
    ), inner_min AS (
      SELECT k.bin AS k, seg.i, min(seg.rate) AS mr
      FROM bins k JOIN seg ON seg.i <= k.bin AND seg.j >= k.bin
      GROUP BY 1, 2
    ), iso AS (
      SELECT k, max(mr) AS iso FROM inner_min GROUP BY 1
    )
    SELECT bins.bin, bins.n,
           round(CAST(bins.sy AS DOUBLE) / CAST(bins.n AS DOUBLE)
                 + 1e-9, 6) AS pos_rate,
           round(iso.iso + 1e-9, 6) AS iso_rate
    FROM bins JOIN iso ON bins.bin = iso.k
"""

# q252: recursive CTE replays Holt's identical double-op sequence —
# b_t's dependence on l_t is spelled by repeating l_t's expression
# exactly as the Spark fold does (bit-identical), so level/trend are
# stable before the terminal 4-dp rounds.
ORACLE_SQL["q252_holt_trend"] = """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(CAST(sum(CAST(round(value * 1e4) AS BIGINT))
                        AS DOUBLE)
                   / CAST(count(value) AS DOUBLE) / 1e4 + 1e-9,
                   4) AS v
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT event_type, day, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ), sc AS (
      SELECT event_type, rn, day, v, v AS l,
             CAST(0.0 AS DOUBLE) AS b
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn, d.day, d.v,
             0.3 * d.v + 0.7 * (sc.l + sc.b) AS l,
             0.2 * ((0.3 * d.v + 0.7 * (sc.l + sc.b)) - sc.l)
               + 0.8 * sc.b AS b
      FROM sc JOIN d ON d.event_type = sc.event_type
                    AND d.rn = sc.rn + 1
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, v,
           round(l + 1e-9, 4) AS level,
           round(b + 1e-9, 4) AS trend,
           round(l + b + 1e-9, 4) AS forecast
    FROM sc
"""

# q253: the oracle builds the same three KMV sketches relationally —
# 52-bit md5-slice hashes, ORDER BY h LIMIT k per set — and spells the
# estimator with the identical double-op sequence (255.0 * 2^52 first,
# then the divide), so estimates are bit-stable pre-round.
ORACLE_SQL["q253_kmv_set_ops"] = """
    WITH pairs AS (
      SELECT DISTINCT l_returnflag AS s,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 3, 13))
               ::BIGINT AS h
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    sk_a AS (SELECT h FROM pairs WHERE s = 'A' ORDER BY h LIMIT 256),
    sk_b AS (SELECT h FROM pairs WHERE s = 'R' ORDER BY h LIMIT 256),
    sk_u AS (SELECT DISTINCT h FROM pairs ORDER BY h LIMIT 256),
    ex AS (
      SELECT
        (SELECT count(*) FROM (SELECT DISTINCT h FROM pairs
                               WHERE s = 'A')) AS xa,
        (SELECT count(*) FROM (SELECT DISTINCT h FROM pairs
                               WHERE s = 'R')) AS xb,
        (SELECT count(DISTINCT h) FROM pairs) AS xu,
        (SELECT count(*) FROM (SELECT h FROM pairs GROUP BY h
                               HAVING count(DISTINCT s) = 2)) AS xi,
        (SELECT count(*) FROM sk_a) AS na,
        (SELECT count(*) FROM sk_b) AS nb,
        (SELECT count(*) FROM sk_u) AS nu,
        (SELECT max(h) FROM sk_a) AS ha,
        (SELECT max(h) FROM sk_b) AS hb,
        (SELECT max(h) FROM sk_u) AS hu,
        (SELECT count(*) FROM sk_u
         WHERE h IN (SELECT h FROM pairs GROUP BY h
                     HAVING count(DISTINCT s) = 2)) AS mi
    )
    SELECT 'distinct_a' AS metric,
           round(CASE WHEN na < 256 THEN CAST(xa AS DOUBLE)
                 ELSE (255e0 * 4503599627370496e0) / CAST(ha AS DOUBLE)
                 END + 1e-9, 2) AS est,
           CAST(xa AS BIGINT) AS exact FROM ex
    UNION ALL
    SELECT 'distinct_b',
           round(CASE WHEN nb < 256 THEN CAST(xb AS DOUBLE)
                 ELSE (255e0 * 4503599627370496e0) / CAST(hb AS DOUBLE)
                 END + 1e-9, 2),
           CAST(xb AS BIGINT) FROM ex
    UNION ALL
    SELECT 'union',
           round(CASE WHEN nu < 256 THEN CAST(xu AS DOUBLE)
                 ELSE (255e0 * 4503599627370496e0) / CAST(hu AS DOUBLE)
                 END + 1e-9, 2),
           CAST(xu AS BIGINT) FROM ex
    UNION ALL
    SELECT 'intersection',
           round(CASE WHEN nu < 256 THEN CAST(xi AS DOUBLE)
                 ELSE CAST(mi AS DOUBLE) * 255e0 * 4503599627370496e0
                      / CAST(256 * hu AS DOUBLE)
                 END + 1e-9, 2),
           CAST(xi AS BIGINT) FROM ex
"""

# q254: the oracle accumulates the same nine sufficient statistics
# (HUGEINT-exact, matching Spark's decimal(38,0) sums), casts to
# DOUBLE, and spells the identical Cramer expansion, so betas are
# bit-stable pre-round.
ORACLE_SQL["q254_grouped_ridge"] = """
    WITH base AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2
      FROM lineitem
    ), s AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             sum(x1) AS s1, sum(x2) AS s2,
             sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
             sum(x2 * x2) AS s22,
             sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
      FROM base GROUP BY 1
    ), m AS (
      SELECT flag, n,
             CAST(n AS DOUBLE) AS a11,
             CAST(s1 AS DOUBLE) AS a12, CAST(s2 AS DOUBLE) AS a13,
             CAST(s1 AS DOUBLE) AS a21,
             CAST(s11 AS DOUBLE) + 1000.0 AS a22,
             CAST(s12 AS DOUBLE) AS a23,
             CAST(s2 AS DOUBLE) AS a31, CAST(s12 AS DOUBLE) AS a32,
             CAST(s22 AS DOUBLE) + 1000.0 AS a33,
             CAST(sy AS DOUBLE) AS b1, CAST(s1y AS DOUBLE) AS b2,
             CAST(s2y AS DOUBLE) AS b3
      FROM s
    )
    SELECT flag, n,
           round((b1 * (a22 * a33 - a23 * a32)
                  - a12 * (b2 * a33 - a23 * b3)
                  + a13 * (b2 * a32 - a22 * b3))
                 / (a11 * (a22 * a33 - a23 * a32)
                    - a12 * (a21 * a33 - a23 * a31)
                    + a13 * (a21 * a32 - a22 * a31)) + 1e-9, 6)
             AS beta0,
           round((a11 * (b2 * a33 - a23 * b3)
                  - b1 * (a21 * a33 - a23 * a31)
                  + a13 * (a21 * b3 - b2 * a31))
                 / (a11 * (a22 * a33 - a23 * a32)
                    - a12 * (a21 * a33 - a23 * a31)
                    + a13 * (a21 * a32 - a22 * a31)) + 1e-9, 6)
             AS beta1,
           round((a11 * (a22 * b3 - b2 * a32)
                  - a12 * (a21 * b3 - b2 * a31)
                  + b1 * (a21 * a32 - a22 * a31))
                 / (a11 * (a22 * a33 - a23 * a32)
                    - a12 * (a21 * a33 - a23 * a31)
                    + a13 * (a21 * a32 - a22 * a31)) + 1e-9, 6)
             AS beta2
    FROM m
"""

# q255: HUGEINT-exact grid sums cast to DOUBLE, then the identical
# double-op sequence (variance via the sum-of-squares identity, sqrt
# IEEE-correctly-rounded) — t and df bit-stable pre-round.
ORACLE_SQL["q255_welch_ttest"] = """
    WITH snapped AS (
      SELECT event_type AS arm,
             CAST(round(value * 1e4) AS BIGINT) AS v
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ), arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             sum(v) AS sv, sum(v * v) AS svv
      FROM snapped GROUP BY 1
    ), j AS (
      SELECT a.n AS na, CAST(a.sv AS DOUBLE) AS sva,
             CAST(a.svv AS DOUBLE) AS svva,
             b.n AS nb, CAST(b.sv AS DOUBLE) AS svb,
             CAST(b.svv AS DOUBLE) AS svvb
      FROM (SELECT * FROM arms WHERE arm = 'click') a
      CROSS JOIN (SELECT * FROM arms WHERE arm = 'view') b
    ), m AS (
      SELECT na, nb,
             sva / CAST(na AS DOUBLE) / 1e4 AS ma,
             svb / CAST(nb AS DOUBLE) / 1e4 AS mb,
             (svva - sva * sva / CAST(na AS DOUBLE))
               / (CAST(na AS DOUBLE) - 1.0) / (1e4 * 1e4)
               / CAST(na AS DOUBLE) AS se2a,
             (svvb - svb * svb / CAST(nb AS DOUBLE))
               / (CAST(nb AS DOUBLE) - 1.0) / (1e4 * 1e4)
               / CAST(nb AS DOUBLE) AS se2b
      FROM j
    )
    SELECT na AS n_a, nb AS n_b,
           round(ma + 1e-9, 6) AS mean_a,
           round(mb + 1e-9, 6) AS mean_b,
           round(CASE WHEN na > 1 AND nb > 1 AND se2a + se2b > 0 THEN
                   (ma - mb) / sqrt(se2a + se2b)
                 END + 1e-9, 6) AS t_stat,
           round(CASE WHEN na > 1 AND nb > 1 AND se2a + se2b > 0 THEN
                   ((se2a + se2b) * (se2a + se2b))
                   / (se2a * se2a / (CAST(na AS DOUBLE) - 1.0)
                      + se2b * se2b / (CAST(nb AS DOUBLE) - 1.0))
                 END + 1e-9, 6) AS welch_df
    FROM m
"""

# q256: the oracle unrolls the identical 4 simultaneous peel rounds —
# per round, degrees over edges with BOTH endpoints surviving, filter
# >= k. Exact integers; src (even) and dst (odd) ids never collide so
# the symmetric edge list is a plain UNION ALL.
ORACLE_SQL["q256_kcore"] = """
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT src, dst FROM pairs
      UNION ALL
      SELECT dst, src FROM pairs
    ), a0 AS (SELECT DISTINCT src AS node FROM edges),
    d1 AS (
      SELECT src, count(*) AS deg FROM edges
      WHERE src IN (SELECT node FROM a0)
        AND dst IN (SELECT node FROM a0)
      GROUP BY 1 HAVING count(*) >= 12
    ), a1 AS (SELECT src AS node FROM d1),
    d2 AS (
      SELECT src, count(*) AS deg FROM edges
      WHERE src IN (SELECT node FROM a1)
        AND dst IN (SELECT node FROM a1)
      GROUP BY 1 HAVING count(*) >= 12
    ), a2 AS (SELECT src AS node FROM d2),
    d3 AS (
      SELECT src, count(*) AS deg FROM edges
      WHERE src IN (SELECT node FROM a2)
        AND dst IN (SELECT node FROM a2)
      GROUP BY 1 HAVING count(*) >= 12
    ), a3 AS (SELECT src AS node FROM d3),
    d4 AS (
      SELECT src, count(*) AS deg FROM edges
      WHERE src IN (SELECT node FROM a3)
        AND dst IN (SELECT node FROM a3)
      GROUP BY 1 HAVING count(*) >= 12
    )
    SELECT src AS node, CAST(deg AS BIGINT) AS core_deg FROM d4
"""

# q257: HUGEINT-exact per-group grid sums; the cross-group float terms
# fold via list_reduce over list(... ORDER BY grp) — the same left
# fold, same op order, as Spark's sorted-collect_list aggregate.
ORACLE_SQL["q257_anova_f"] = """
    WITH snapped AS (
      SELECT CAST(event_type AS VARCHAR) AS grp,
             CAST(round(value * 1e4) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), grps AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(v) AS s, sum(v * v) AS q
      FROM snapped GROUP BY 1
    ), terms AS (
      SELECT grp, n, s,
             CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               AS tb,
             CAST(q AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE) AS tw
      FROM grps
    ), folded AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(s) AS DOUBLE) AS s_tot,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(tb ORDER BY grp)),
                         (acc, x) -> acc + x) AS sum_tb,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(tw ORDER BY grp)),
                         (acc, x) -> acc + x) AS sum_tw
      FROM terms
    )
    SELECT k, n_total,
           round((sum_tb - s_tot * s_tot / CAST(n_total AS DOUBLE))
                 / (1e4 * 1e4) + 1e-9, 6) AS ss_between,
           round(sum_tw / (1e4 * 1e4) + 1e-9, 6) AS ss_within,
           round(CASE WHEN k > 1 AND n_total > k AND sum_tw > 0
                 THEN ((sum_tb - s_tot * s_tot / CAST(n_total AS DOUBLE))
                       / (1e4 * 1e4) / (CAST(k AS DOUBLE) - 1.0))
                      / ((sum_tw / (1e4 * 1e4))
                         / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)))
                 END + 1e-9, 6) AS f_stat
    FROM folded
"""

# q258: identical integer level algebra — 2·U = Σ c_a·(2·cum_b − c_b)
# summed exactly; tie term Σ(t³−t); z spelled with the same double-op
# sequence and the same variance-0 NULL guard.
ORACLE_SQL["q258_mann_whitney"] = """
    WITH cells AS (
      SELECT round(value + 1e-9, 2) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS ca,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS cb
      FROM events
      WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL
      GROUP BY 1
    ), cum AS (
      SELECT ca, cb,
             sum(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
               AS cumb
      FROM cells
    ), agg AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(sum(ca * (2 * cumb - cb)) AS BIGINT) AS u2_a,
             CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                  AS BIGINT) AS tie3
      FROM cum
    )
    SELECT n_a, n_b, u2_a,
           round(CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
                       AND (CAST(n_a + n_b AS DOUBLE) + 1.0)
                           * CAST(n_a + n_b AS DOUBLE)
                           * (CAST(n_a + n_b AS DOUBLE) - 1.0)
                           > CAST(tie3 AS DOUBLE) THEN
                   (CAST(u2_a AS DOUBLE) / 2.0
                    - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                   / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                          / 12.0
                          * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                             - CAST(tie3 AS DOUBLE)
                               / (CAST(n_a + n_b AS DOUBLE)
                                  * (CAST(n_a + n_b AS DOUBLE)
                                     - 1.0))))
                 END + 1e-9, 6) AS z
    FROM agg
"""

# q259: identical per-term double expressions from exact counts (ln
# args as pure-double products, q246 discipline), snapped to the 1e-12
# grid, summed HUGEINT-exact — order-free over any vocabulary size.
ORACLE_SQL["q259_js_divergence"] = """
    WITH toks AS (
      SELECT (source = 'src0') AS is_a,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
      WHERE source IN ('src0', 'src1') AND text IS NOT NULL
    ), cells AS (
      SELECT tok,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS b
      FROM toks WHERE tok <> '' GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
      FROM cells
    ), terms AS (
      SELECT a, b,
             CAST(round(CASE WHEN a > 0 AND tb > 0 THEN
               CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
               * ln(2e0 * CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
                    / (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
                       + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)))
               ELSE 0e0 END * 1e12) AS HUGEINT) AS qa,
             CAST(round(CASE WHEN b > 0 AND ta > 0 THEN
               CAST(b AS DOUBLE) / CAST(tb AS DOUBLE)
               * ln(2e0 * CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)
                    / (CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)
                       + CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)))
               ELSE 0e0 END * 1e12) AS HUGEINT) AS qb
      FROM cells CROSS JOIN tot
    )
    SELECT CAST(sum(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS vocab_a,
           CAST(sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS vocab_b,
           CAST(sum(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS vocab_common,
           round(CASE WHEN sum(CASE WHEN a > 0 THEN 1 ELSE 0 END) > 0
                       AND sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) > 0
                 THEN CAST(sum(qa) + sum(qb) AS DOUBLE) / 2e12
                 END + 1e-9, 6) AS js_nats
    FROM terms
"""

# q260: identical doubled-average-rank algebra — window prefix counts
# over the level tables, HUGEINT-exact rank sums, the same Pearson
# double sequence with the zero-variance NULL guard.
ORACLE_SQL["q260_spearman_rho"] = """
    WITH rows_ AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS vx,
             CAST(round(l_extendedprice) AS BIGINT) AS vy
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), lx AS (
      SELECT vx, count(*) AS c FROM rows_ GROUP BY 1
    ), rx AS (
      SELECT vx,
             2 * sum(c) OVER (ORDER BY vx ROWS UNBOUNDED PRECEDING)
               - c + 1 AS r2x
      FROM lx
    ), ly AS (
      SELECT vy, count(*) AS c FROM rows_ GROUP BY 1
    ), ry AS (
      SELECT vy,
             2 * sum(c) OVER (ORDER BY vy ROWS UNBOUNDED PRECEDING)
               - c + 1 AS r2y
      FROM ly
    ), ranked AS (
      SELECT r2x, r2y FROM rows_
      JOIN rx USING (vx) JOIN ry USING (vy)
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(r2x) AS sx, sum(r2y) AS sy,
             sum(r2x * r2x) AS sxx, sum(r2y * r2y) AS syy,
             sum(r2x * r2y) AS sxy
      FROM ranked
    )
    SELECT n,
           round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                       AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE)
                                  * CAST(sy AS DOUBLE)))
                 END + 1e-9, 6) AS rho
    FROM agg
"""

# q261: identical level-table Gini — exclusive prefix counts per
# group, exact rank-weighted sums v·(2cK + c(c+1)) in HUGEINT, one
# division, zero-total NULL guard.
ORACLE_SQL["q261_gini_concentration"] = """
    WITH levels AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
             count(*) AS c
      FROM documents WHERE n_chars IS NOT NULL
      GROUP BY 1, 2
    ), with_k AS (
      SELECT grp, v, c,
             coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS k
      FROM levels
    ), agg AS (
      SELECT grp, CAST(sum(c) AS BIGINT) AS n,
             sum(v * c) AS s,
             sum(v * (2 * c * k + c * (c + 1))) AS t2
      FROM with_k GROUP BY 1
    )
    SELECT grp AS source, n AS n_docs,
           CAST(s AS BIGINT) AS total_chars,
           round(CASE WHEN s > 0 AND n > 0 THEN
                   (CAST(t2 AS DOUBLE)
                    - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                 END + 1e-9, 6) AS gini
    FROM agg
"""

# q262: unrolled power iterations (aggregates are not allowed in a
# recursive CTE term — the q134 unroll precedent); identical 1e-9
# integer-grid recurrence, every neighbor-sum a sum of BIGINTs.
ORACLE_SQL["q262_markov_stationary"] = """
    WITH s AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    ), pairs AS (
      SELECT from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2
    ), rt AS (
      SELECT from_type, sum(n) AS rt FROM pairs GROUP BY 1
    ), p AS (
      SELECT pairs.from_type AS src, to_type AS dst,
             CAST(round(1e9 * CAST(n AS DOUBLE) / CAST(rt AS DOUBLE))
                  AS BIGINT) AS p_e9
      FROM pairs JOIN rt ON pairs.from_type = rt.from_type
    ), states AS (
      SELECT src AS state FROM p UNION SELECT dst FROM p
    ), kk AS (SELECT count(*) AS k FROM states),
    pi0 AS (
      SELECT state,
             CAST(round(1e9 / CAST(k AS DOUBLE)) AS BIGINT) AS pi_e9
      FROM states CROSS JOIN kk
    ),
    pi1 AS (
      SELECT dst AS state,
             CAST(sum(CAST(round(CAST(pi_e9 AS DOUBLE)
                                 * CAST(p_e9 AS DOUBLE) / 1e9)
                           AS BIGINT)) AS BIGINT) AS pi_e9
      FROM pi0 JOIN p ON pi0.state = p.src GROUP BY 1
    ),
    pi2 AS (
      SELECT dst AS state,
             CAST(sum(CAST(round(CAST(pi_e9 AS DOUBLE)
                                 * CAST(p_e9 AS DOUBLE) / 1e9)
                           AS BIGINT)) AS BIGINT) AS pi_e9
      FROM pi1 JOIN p ON pi1.state = p.src GROUP BY 1
    ),
    pi3 AS (
      SELECT dst AS state,
             CAST(sum(CAST(round(CAST(pi_e9 AS DOUBLE)
                                 * CAST(p_e9 AS DOUBLE) / 1e9)
                           AS BIGINT)) AS BIGINT) AS pi_e9
      FROM pi2 JOIN p ON pi2.state = p.src GROUP BY 1
    ),
    pi4 AS (
      SELECT dst AS state,
             CAST(sum(CAST(round(CAST(pi_e9 AS DOUBLE)
                                 * CAST(p_e9 AS DOUBLE) / 1e9)
                           AS BIGINT)) AS BIGINT) AS pi_e9
      FROM pi3 JOIN p ON pi3.state = p.src GROUP BY 1
    ),
    pi5 AS (
      SELECT dst AS state,
             CAST(sum(CAST(round(CAST(pi_e9 AS DOUBLE)
                                 * CAST(p_e9 AS DOUBLE) / 1e9)
                           AS BIGINT)) AS BIGINT) AS pi_e9
      FROM pi4 JOIN p ON pi4.state = p.src GROUP BY 1
    ),
    pi6 AS (
      SELECT dst AS state,
             CAST(sum(CAST(round(CAST(pi_e9 AS DOUBLE)
                                 * CAST(p_e9 AS DOUBLE) / 1e9)
                           AS BIGINT)) AS BIGINT) AS pi_e9
      FROM pi5 JOIN p ON pi5.state = p.src GROUP BY 1
    )
    SELECT state, pi_e9,
           round(CAST(pi_e9 AS DOUBLE) / 1e9, 6) AS pi
    FROM pi6 ORDER BY pi_e9 DESC, state ASC
"""

# q263: HUGEINT-exact (key, isodow) grid sums; index = one division of
# double products of exact integers. isodow(Monday=1) matches the
# plan's normalized Spark dayofweek.
ORACLE_SQL["q263_weekday_seasonality"] = """
    WITH cells AS (
      SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INTEGER)
               AS dow,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(round(value * 1e4) AS BIGINT)) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), totals AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_key,
             sum(s) AS s_key
      FROM cells GROUP BY 1
    )
    SELECT cells.event_type, dow, n,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e4 + 1e-9, 6)
             AS mean_dow,
           round(CASE WHEN s_key <> 0 THEN
                   (CAST(s AS DOUBLE) * CAST(n_key AS DOUBLE))
                   / (CAST(s_key AS DOUBLE) * CAST(n AS DOUBLE))
                 END + 1e-9, 6) AS seasonal_index
    FROM cells JOIN totals ON cells.event_type = totals.event_type
"""

# q264: full r×c grid (margins cross join, LEFT JOIN observed), per-
# cell (c−e)²/e from exact counts, list_reduce fold in (x, y) order —
# the same left fold, same op order, as the Spark sorted-struct
# aggregate. Degenerate 1×c / r×1 tables NULL out V.
ORACLE_SQL["q264_cramers_v"] = """
    WITH cells AS (
      SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
    ), rows_m AS (
      SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1
    ), cols_m AS (
      SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1
    ), grid AS (
      SELECT rows_m.x, cols_m.y, coalesce(cells.c, 0) AS c, cx, cy
      FROM rows_m CROSS JOIN cols_m
      LEFT JOIN cells ON cells.x = rows_m.x AND cells.y = cols_m.y
    ), agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(count(DISTINCT x) AS BIGINT) AS r,
             CAST(count(DISTINCT y) AS BIGINT) AS cc,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list((CAST(c AS DOUBLE)
                       - CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)
                         / CAST(n2.n AS DOUBLE))
                      * (CAST(c AS DOUBLE)
                         - CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)
                           / CAST(n2.n AS DOUBLE))
                      / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)
                         / CAST(n2.n AS DOUBLE))
                      ORDER BY x, y)),
               (acc, t) -> acc + t) AS chi2
      FROM grid CROSS JOIN (SELECT CAST(sum(c) AS BIGINT) AS n
                            FROM cells) n2
    )
    SELECT n, r, cc AS c,
           round(chi2 + 1e-9, 6) AS chi2,
           round(CASE WHEN r > 1 AND cc > 1 AND n > 0 THEN
                   sqrt(chi2 / (CAST(n AS DOUBLE)
                                * CAST(least(r - 1, cc - 1) AS DOUBLE)))
                 END + 1e-9, 6) AS cramers_v
    FROM agg
"""

# q265: q259's identical snapped terms kept per token; top-k by the
# exact integer contribution with a token tiebreak — deterministic on
# both engines.
ORACLE_SQL["q265_js_attribution"] = """
    WITH toks AS (
      SELECT (source = 'src0') AS is_a,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
      WHERE source IN ('src0', 'src1') AND text IS NOT NULL
    ), cells AS (
      SELECT tok,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS b
      FROM toks WHERE tok <> '' GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
      FROM cells
    ), terms AS (
      SELECT tok, CAST(a AS BIGINT) AS n_a, CAST(b AS BIGINT) AS n_b,
             CAST(round(CASE WHEN a > 0 AND tb > 0 THEN
               CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
               * ln(2e0 * CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
                    / (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
                       + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)))
               ELSE 0e0 END * 1e12) AS BIGINT)
             + CAST(round(CASE WHEN b > 0 AND ta > 0 THEN
               CAST(b AS DOUBLE) / CAST(tb AS DOUBLE)
               * ln(2e0 * CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)
                    / (CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)
                       + CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)))
               ELSE 0e0 END * 1e12) AS BIGINT) AS q
      FROM cells CROSS JOIN tot
    )
    SELECT tok, n_a, n_b,
           round(CAST(q AS DOUBLE) / 2e12 + 1e-9, 6) AS contrib_nats
    FROM terms ORDER BY q DESC, tok ASC LIMIT 20
"""

# q266: the oracle states the identical reflection identity with two
# plain windows — exact BIGINT prefix sum and prefix min over (us,
# event_id) order; the least(0, ...) encodes the virtual D_0 = 0
# reset point exactly as the Spark carry fold does.
ORACLE_SQL["q266_cusum_scan"] = """
    WITH d AS (
      SELECT epoch_us(ts) AS us, event_id,
             CAST(round(value * 100) AS BIGINT) - 5500 AS d
      FROM events WHERE value IS NOT NULL
    ), sc AS (
      SELECT us, event_id,
             sum(d) OVER (ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS D
      FROM d
    ), s AS (
      SELECT us, event_id,
             D - least(0, min(D) OVER (ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING)) AS S
      FROM sc
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN S > 100000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms,
           CAST(max(S) AS BIGINT) AS max_s,
           CAST((SELECT S FROM s ORDER BY us DESC, event_id DESC
                 LIMIT 1) AS BIGINT) AS final_s
    FROM s
"""

# q267: the oracle recomputes every post-decode statistic CLOSED-FORM
# from the synthetic pixel law pixel(x,y) = (3x + 7y + id) mod 256 over
# generate_series grids — if the vendored decoder mis-unfilters a single
# scanline or the resize samples one wrong coordinate, a sum moves and
# the value hash breaks. Resized sampling is (x2*w)//w2, the exact
# integer law of pngcodec.resize_nearest.
ORACLE_SQL["q267_png_decode_stats"] = """
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(4 + (doc_id // 13) % 11 AS INT) AS height,
             CAST(greatest(1, (4 + doc_id % 13) // 2) AS INT) AS rs_width,
             CAST(greatest(1, (4 + (doc_id // 13) % 11) // 2) AS INT)
               AS rs_height
      FROM documents
      WHERE doc_id IS NOT NULL AND doc_id % 7 = 0
    ), g AS (
      -- fixed max grid (width <= 16, height <= 14); per-doc bounds are
      -- filtered in the aggregates (generate_series cannot be lateral)
      SELECT gx.x AS x, gy.y AS y
      FROM generate_series(0, 15) gx(x), generate_series(0, 13) gy(y)
    )
    SELECT d.doc_id, d.width, d.height,
           CAST(sum(CASE WHEN g.x < d.width AND g.y < d.height THEN
                  (3 * g.x + 7 * g.y + d.doc_id) % 256 END)
                AS BIGINT) AS pixel_sum,
           d.rs_width, d.rs_height,
           CAST(sum(CASE WHEN g.x < d.rs_width AND g.y < d.rs_height THEN
                  (3 * ((g.x * d.width) // d.rs_width)
                   + 7 * ((g.y * d.height) // d.rs_height)
                   + d.doc_id) % 256 END)
                AS BIGINT) AS pixel_sum_resized
    FROM dims d CROSS JOIN g
    GROUP BY d.doc_id, d.width, d.height, d.rs_width, d.rs_height
"""

# q268: the oracle replays the identical pairwise-slope construction —
# exact cents/day integers, one correctly-rounded IEEE division per
# slope (bit-equal across engines for equal rationals), rank-selected
# medians with the (lo+hi)/2 even rule. DOUBLE literals are spelled
# scientific (1e2/2e0) — DuckDB parses 100.0 as DECIMAL, which would
# quantize the whole slope expression.
ORACLE_SQL["q268_theil_sen"] = """
    WITH daily AS (
      SELECT event_type AS k,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), pairs AS (
      SELECT a.k,
             CAST(b.cents - a.cents AS DOUBLE)
               / CAST(b.t - a.t AS DOUBLE) / 1e2 AS slope
      FROM daily a JOIN daily b ON a.k = b.k AND a.t < b.t
    ), sr AS (
      SELECT k, slope,
             row_number() OVER (PARTITION BY k ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY k) AS cnt
      FROM pairs
    ), sm AS (
      SELECT k, (min(slope) + max(slope)) / 2e0 AS slope_med
      FROM sr WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
      GROUP BY k
    ), np AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY k
    ), nd AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY k
    ), resid AS (
      SELECT d.k,
             CAST(d.cents AS DOUBLE) / 1e2
               - s.slope_med * CAST(d.t AS DOUBLE) AS resid
      FROM daily d JOIN sm s ON d.k = s.k
    ), rr AS (
      SELECT k, resid,
             row_number() OVER (PARTITION BY k ORDER BY resid) AS rn,
             count(*) OVER (PARTITION BY k) AS cnt
      FROM resid
    ), im AS (
      SELECT k, (min(resid) + max(resid)) / 2e0 AS intercept_med
      FROM rr WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
      GROUP BY k
    )
    SELECT nd.k AS event_type, nd.n_days,
           COALESCE(np.n_pairs, 0) AS n_pairs,
           round(sm.slope_med + 1e-9, 6) AS slope_med,
           round(im.intercept_med + 1e-9, 6) AS intercept_med
    FROM nd
    LEFT JOIN np ON nd.k = np.k
    LEFT JOIN sm ON nd.k = sm.k
    LEFT JOIN im ON nd.k = im.k
"""

# q269: identical cell-level construction in SQL — ordered cell
# self-join for C/D (exact HUGEINT products), margin tie terms, τ-b
# as the same double sequence (C−D)/(sqrt(n0−n1)·sqrt(n0−n2)).
ORACLE_SQL["q269_kendall_tau"] = """
    WITH cells AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS vx,
             CAST(round(l_discount * 100) AS BIGINT) AS vy,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      GROUP BY 1, 2
    ), cd AS (
      SELECT
        sum(CASE WHEN b.vy > a.vy THEN a.c * b.c ELSE 0 END) AS conc,
        sum(CASE WHEN b.vy < a.vy THEN a.c * b.c ELSE 0 END) AS disc
      FROM cells a JOIN cells b ON a.vx < b.vx
    ), tx AS (
      SELECT sum(t * (t - 1) // 2) AS n1, CAST(sum(t) AS BIGINT) AS n
      FROM (SELECT sum(c) AS t FROM cells GROUP BY vx)
    ), ty AS (
      SELECT sum(t * (t - 1) // 2) AS n2
      FROM (SELECT sum(c) AS t FROM cells GROUP BY vy)
    )
    SELECT tx.n,
           COALESCE(CAST(cd.conc AS BIGINT), 0) AS concordant,
           COALESCE(CAST(cd.disc AS BIGINT), 0) AS discordant,
           round(CASE WHEN tx.n * (tx.n - 1) // 2 - tx.n1 > 0
                       AND tx.n * (tx.n - 1) // 2 - ty.n2 > 0 THEN
               CAST(cd.conc - cd.disc AS DOUBLE)
               / (sqrt(CAST(tx.n * (tx.n - 1) // 2 - tx.n1 AS DOUBLE))
                  * sqrt(CAST(tx.n * (tx.n - 1) // 2 - ty.n2 AS DOUBLE)))
             END + 1e-9, 6) AS tau_b
    FROM cd, tx, ty
"""

# q270: matched rows = q92's interval join; unmatched-click emission is
# gated by the FINAL WATERMARK rule — wm = min(max c_us, max e_us) −
# delay(1h); a click emits NULLs iff its window closed strictly before
# wm AND no in-window error exists. Clicks still in-window at
# end-of-input are (correctly) absent from both sides.
ORACLE_SQL["q270_stream_outer_join"] = """
    WITH c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT event_id AS error_id, user_id, epoch_us(ts) AS e_us
      FROM events WHERE event_type = 'error'
    ), wm AS (
      SELECT least((SELECT max(c_us) FROM c), (SELECT max(e_us) FROM e))
             - CAST(3600000000 AS BIGINT) AS w_us
    )
    SELECT c.click_id, e.error_id, c.user_id,
           e.e_us - c.c_us AS delta_us
    FROM c JOIN e ON c.user_id = e.user_id
                 AND e.e_us >= c.c_us
                 AND e.e_us <= c.c_us + CAST(3600000000 AS BIGINT)
    UNION ALL
    SELECT c.click_id, CAST(NULL AS BIGINT) AS error_id, c.user_id,
           CAST(NULL AS BIGINT) AS delta_us
    FROM c, wm
    WHERE c.c_us + CAST(3600000000 AS BIGINT) < wm.w_us
      AND NOT EXISTS (
        SELECT 1 FROM e
        WHERE e.user_id = c.user_id
          AND e.e_us >= c.c_us
          AND e.e_us <= c.c_us + CAST(3600000000 AS BIGINT)
      )
"""

# q271: identical trapezoid construction — lead over the (µs, event_id)
# total order, exact (c_i + c_{i+1})·Δus HUGEINT terms, TWA =
# N / (2·span) / 100 as the same double sequence (scientific literals:
# DuckDB parses 100.0 as DECIMAL).
ORACLE_SQL["q271_time_weighted_avg"] = """
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ), seg AS (
      SELECT user_id, c, us,
             lead(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS us2,
             lead(c) OVER (PARTITION BY user_id
                           ORDER BY us, event_id) AS c2
      FROM pts
    ), agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(COALESCE(sum(CASE WHEN us2 IS NOT NULL
                                    THEN us2 - us END), 0) AS BIGINT)
               AS span_us,
             sum(CASE WHEN us2 IS NOT NULL
                      THEN (c + c2) * (us2 - us) ELSE 0 END) AS num
      FROM seg GROUP BY 1
    )
    SELECT user_id, n_events, span_us,
           round(CASE WHEN span_us > 0 THEN
               CAST(num AS DOUBLE)
                 / (2e0 * CAST(span_us AS DOUBLE)) / 1e2
             END + 1e-9, 6) AS twa
    FROM agg
"""

# q272: the lag spine is generate_series(-3, 3); everything else is the
# q268-family discipline — exact cent totals, HUGEINT sufficient
# statistics, one double sequence for r.
ORACLE_SQL["q272_lag_cross_correlation"] = """
    WITH daily AS (
      SELECT event_type AS k,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS c
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')
      GROUP BY 1, 2
    ), a AS (SELECT t AS ta, c AS ca FROM daily WHERE k = 'click'),
    b AS (SELECT t AS tb, c AS cb FROM daily WHERE k = 'error'),
    j AS (
      SELECT g.lag, a.ca, b.cb
      FROM generate_series(-3, 3) g(lag), a
      JOIN b ON a.ta + g.lag = b.tb
    ), agg AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
             sum(ca) AS sa, sum(cb) AS sb,
             sum(ca * ca) AS saa, sum(cb * cb) AS sbb,
             sum(ca * cb) AS sab
      FROM j GROUP BY 1
    )
    SELECT lag, n_days,
           round(CASE WHEN
                   CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
                   AND CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
                 THEN
                   (CAST(n_days AS DOUBLE) * CAST(sab AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                   / (sqrt(CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
                           - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                      * sqrt(CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
                             - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
                 END + 1e-9, 6) AS r
    FROM agg
"""

# q273: identical level-table construction — cumulative counts over the
# 1e2 grid, per-interval |cumA·n_b − cumB·n_a|·Δx as exact HUGEINT
# terms, W₁ = S/(n_a·n_b)/100 with scientific double literals.
ORACLE_SQL["q273_wasserstein_drift"] = """
    WITH cells AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS x,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      GROUP BY 1
    ), cum AS (
      SELECT x,
             sum(ca) OVER w AS cuma,
             sum(cb) OVER w AS cumb,
             lead(x) OVER (ORDER BY x) AS xn,
             row_number() OVER (ORDER BY x) AS idx
      FROM cells
      WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
    ), tot AS (
      SELECT max(cuma) AS na, max(cumb) AS nb, max(idx) AS nl FROM cum
    ), s AS (
      SELECT sum(CASE WHEN xn IS NOT NULL THEN
                   abs(cuma * tot.nb - cumb * tot.na) * (xn - x)
                 ELSE 0 END) AS sv
      FROM cum, tot
    )
    SELECT CAST(tot.na AS BIGINT) AS n_a,
           CAST(tot.nb AS BIGINT) AS n_b,
           CAST(tot.nl AS BIGINT) AS n_levels,
           round(CASE WHEN tot.na > 0 AND tot.nb > 0 THEN
               CAST(s.sv AS DOUBLE)
                 / (CAST(tot.na AS DOUBLE) * CAST(tot.nb AS DOUBLE))
                 / 1e2
             END + 1e-9, 6) AS w1
    FROM s, tot
"""

# q275: identical construction — grid-snapped integer daily means,
# exact-integer window prefix sums (order-free), the same
# (Q − S²/n)-shaped double sequence per candidate, argmin by
# row_number ORDER BY (sse, b). Scientific double literals throughout.
ORACLE_SQL["q275_changepoint"] = """
    WITH daily AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS day,
             CAST(round(
               CAST(sum(CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
               / CAST(count(value) AS DOUBLE) + 1e-9) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), cums AS (
      SELECT k, day,
             row_number() OVER (PARTITION BY k ORDER BY day) AS b,
             sum(v) OVER (PARTITION BY k ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS cs,
             sum(v * v) OVER (PARTITION BY k ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS cq
      FROM daily
    ), tot AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(v) AS BIGINT) AS s_tot,
             CAST(sum(v * v) AS BIGINT) AS q_tot
      FROM daily GROUP BY 1
    ), cand AS (
      SELECT c.k, c.day, c.b,
             (CAST(c.cq AS DOUBLE)
              - CAST(c.cs AS DOUBLE) * CAST(c.cs AS DOUBLE)
                / CAST(c.b AS DOUBLE))
             + ((CAST(t.q_tot AS DOUBLE) - CAST(c.cq AS DOUBLE))
                - (CAST(t.s_tot AS DOUBLE) - CAST(c.cs AS DOUBLE))
                  * (CAST(t.s_tot AS DOUBLE) - CAST(c.cs AS DOUBLE))
                  / (CAST(t.n_days AS DOUBLE) - CAST(c.b AS DOUBLE)))
               AS sse
      FROM cums c JOIN tot t ON c.k = t.k
      WHERE c.b < t.n_days
    ), best AS (
      SELECT k, day, sse FROM (
        SELECT k, day, sse,
               row_number() OVER (PARTITION BY k ORDER BY sse, b) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT t.k AS event_type, t.n_days,
           strftime(best.day, '%Y-%m-%d') AS break_day,
           round((CAST(t.q_tot AS DOUBLE)
                  - CAST(t.s_tot AS DOUBLE) * CAST(t.s_tot AS DOUBLE)
                    / CAST(t.n_days AS DOUBLE)) / 1e8 + 1e-9, 4)
             AS sse_total,
           round(best.sse / 1e8 + 1e-9, 4) AS sse_best,
           round(((CAST(t.q_tot AS DOUBLE)
                   - CAST(t.s_tot AS DOUBLE) * CAST(t.s_tot AS DOUBLE)
                     / CAST(t.n_days AS DOUBLE)) - best.sse) / 1e8
                 + 1e-9, 4) AS gain
    FROM tot t LEFT JOIN best ON best.k = t.k
"""

# q276: identical RANGE-window count over integer epoch seconds and
# the same (−burst, second) argmin tie-break.
ORACLE_SQL["q276_burst_detection"] = """
    WITH pts AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec
      FROM events WHERE ts IS NOT NULL
    ), counted AS (
      SELECT user_id, sec,
             count(*) OVER (PARTITION BY user_id ORDER BY sec
                            RANGE BETWEEN 59 PRECEDING
                                      AND CURRENT ROW) AS burst
      FROM pts
    ), best AS (
      SELECT user_id, burst, sec FROM (
        SELECT user_id, burst, sec,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY burst DESC, sec) AS rn
        FROM counted
      ) WHERE rn = 1
    )
    SELECT c.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(any_value(b.burst) AS BIGINT) AS max_burst,
           CAST(any_value(b.sec) AS BIGINT) AS peak_second
    FROM counted c JOIN best b ON b.user_id = c.user_id
    GROUP BY 1
"""

# q277: identical integer water-level construction — (count, name)
# order, prefix sums, feasibility flags, k*, div/mod level split.
ORACLE_SQL["q277_water_filling"] = """
    WITH src AS (
      SELECT source AS src, CAST(count(*) AS BIGINT) AS c
      FROM documents WHERE source IS NOT NULL GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST((sum(c) * 3) // 5 AS BIGINT) AS b
      FROM src
    ), ranked AS (
      SELECT src, c,
             row_number() OVER (ORDER BY c, src) AS idx,
             CAST(sum(c) OVER (ORDER BY c, src
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
      FROM src
    ), flagged AS (
      SELECT r.src, r.c, r.idx, r.p, t.n, t.b,
             r.p + (t.n - r.idx) * r.c <= t.b AS full_ok
      FROM ranked r CROSS JOIN tot t
    ), kst AS (
      SELECT min(CASE WHEN NOT full_ok THEN idx END) AS k FROM flagged
    ), level AS (
      SELECT kst.k AS k2,
             CAST((f.b - (f.p - f.c)) // (f.n - kst.k + 1) AS BIGINT)
               AS lam,
             CAST((f.b - (f.p - f.c)) % (f.n - kst.k + 1) AS BIGINT)
               AS rem
      FROM flagged f CROSS JOIN kst WHERE f.idx = kst.k
    )
    SELECT f.src AS source, f.c AS n_docs,
           CAST(CASE WHEN kst.k IS NULL OR f.idx < kst.k THEN f.c
                ELSE level.lam
                     + CASE WHEN f.idx - kst.k + 1 <= level.rem
                            THEN 1 ELSE 0 END
                END AS BIGINT) AS alloc,
           (kst.k IS NOT NULL AND f.idx >= kst.k) AS capped
    FROM flagged f
    CROSS JOIN kst
    LEFT JOIN level ON level.k2 = kst.k
"""

# q278: identical cell construction (NULL quasi values group as their
# own cell in both engines) and the single terminal division.
ORACLE_SQL["q278_k_anonymity"] = """
    WITH cells AS (
      SELECT lang AS grp, source, n_chars // 500 AS band,
             count(*) AS n
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_cells,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
                 / CAST(sum(n) AS DOUBLE) + 1e-9, 4) AS risk_fraction
    FROM cells GROUP BY 1
"""

# q279: identical construction — grid-integer daily means, exact
# ROWS ±3 window sums restricted to complete windows, HUGEINT
# Σ(7v − S7) per (key, isodow), one terminal division.
ORACLE_SQL["q279_stl_lite"] = """
    WITH daily AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS day,
             CAST(round(
               CAST(sum(CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
               / CAST(count(value) AS DOUBLE) + 1e-9) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), trended AS (
      SELECT k, day, v,
             sum(v) OVER (PARTITION BY k ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS s7,
             count(*) OVER (PARTITION BY k ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS w7
      FROM daily
    )
    SELECT k AS event_type,
           CAST(isodow(day) AS INTEGER) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(7 * v - s7) AS DOUBLE)
                 / (7e0 * CAST(count(*) AS DOUBLE)) / 1e4
                 + 1e-9, 4) AS seasonal
    FROM trended WHERE w7 = 7
    GROUP BY 1, 2
"""

# q280: identical construction — (t, v, event_id) total order, 32
# positional buckets, centroid stats, the SAME parenthesized double
# area sequence, argmax by (area DESC, rn), endpoint rule, final
# (t, v)-min dedup belt.
ORACLE_SQL["q280_lttb_downsample"] = """
    WITH pts AS (
      SELECT event_type AS k,
             epoch_us(ts) // 1000000 AS t,
             CAST(round(value * 100) AS BIGINT) AS v,
             event_id AS eid
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), rn AS (
      SELECT k, t, v,
             row_number() OVER (PARTITION BY k ORDER BY t, v, eid)
               AS rn,
             count(*) OVER (PARTITION BY k) AS n
      FROM pts
    ), b AS (
      SELECT k, t, v, rn, n,
             CAST(((rn - 1) * 32) // n AS INTEGER) AS bucket
      FROM rn
    ), stats AS (
      SELECT k, bucket, CAST(count(*) AS BIGINT) AS bn,
             CAST(sum(t) AS BIGINT) AS bt,
             CAST(sum(v) AS BIGINT) AS bv
      FROM b GROUP BY 1, 2
    ), interior AS (
      SELECT p.k, p.bucket, p.rn, p.t, p.v,
             abs((CAST(p.t AS DOUBLE) * CAST(s1.bn AS DOUBLE)
                  - CAST(s1.bt AS DOUBLE))
                 * (CAST(s2.bv AS DOUBLE) * CAST(s1.bn AS DOUBLE)
                    - CAST(s1.bv AS DOUBLE) * CAST(s2.bn AS DOUBLE))
               - (CAST(p.v AS DOUBLE) * CAST(s1.bn AS DOUBLE)
                  - CAST(s1.bv AS DOUBLE))
                 * (CAST(s2.bt AS DOUBLE) * CAST(s1.bn AS DOUBLE)
                    - CAST(s1.bt AS DOUBLE) * CAST(s2.bn AS DOUBLE)))
               AS area
      FROM b p
      JOIN stats s1 ON s1.k = p.k AND s1.bucket = p.bucket - 1
      JOIN stats s2 ON s2.k = p.k AND s2.bucket = p.bucket + 1
    ), best AS (
      SELECT k, bucket, t, v FROM (
        SELECT k, bucket, t, v,
               row_number() OVER (PARTITION BY k, bucket
                                  ORDER BY area DESC, rn) AS r
        FROM interior
      ) WHERE r = 1
    ), ends AS (
      SELECT DISTINCT k, bucket, t, v FROM b WHERE rn = 1 OR rn = n
    ), small AS (
      SELECT k, bucket, t, v FROM b WHERE n <= 32
    ), uni AS (
      SELECT * FROM best UNION ALL SELECT * FROM ends
      UNION ALL SELECT * FROM small
    )
    SELECT k AS event_type, bucket, t AS t_sec, v AS v_cents FROM (
      SELECT k, bucket, t, v,
             row_number() OVER (PARTITION BY k, bucket
                                ORDER BY t, v) AS r
      FROM uni
    ) WHERE r = 1
"""

# q281: q226's window construction verbatim, |residual| (not APE) on
# the 1e-6 grid, then the conformal order statistic k =
# ⌈(m+1)·4/5⌉ selected from the per-series ordered residual list
# (NULL when k > m). y <> 0 is NOT required here — absolute error is
# defined at zero.
ORACLE_SQL["q281_conformal_interval"] = """
    WITH yearly AS (
      SELECT l_suppkey AS g, year(l_shipdate) AS x,
             round(avg(l_quantity), 4) AS y
      FROM lineitem GROUP BY 1, 2
    ), st AS (
      SELECT g, x, y,
             count(*) OVER wpre AS n,
             sum(x::DOUBLE) OVER wpre AS sx,
             sum(y) OVER wpre AS sy,
             sum(x::DOUBLE * y) OVER wpre AS sxy,
             sum(x::DOUBLE * x::DOUBLE) OVER wpre AS sxx
      FROM yearly
      WINDOW wpre AS (PARTITION BY g ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), fit AS (
      SELECT g, x, y, n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             sx, sy
      FROM st
      WHERE n >= 2 AND (n * sxx - sx * sx) <> 0 AND y IS NOT NULL
    ), ev AS (
      SELECT g,
             cast(round(abs(((sy - slope * sx) / n + slope * x::DOUBLE)
                            - y) * 1e6 + 1e-9) AS BIGINT) AS r
      FROM fit
    ), packed AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_folds,
             list(r ORDER BY r) AS rs
      FROM ev GROUP BY 1
    )
    SELECT g AS l_suppkey, n_folds,
           round(CASE WHEN ((n_folds + 1) * 4 + 4) // 5 <= n_folds
                 THEN CAST(rs[CAST(((n_folds + 1) * 4 + 4) // 5
                                   AS INTEGER)] AS DOUBLE)
                 END / 1e6 + 1e-9, 6) AS q_halfwidth
    FROM packed
"""

# q282: the panel + planting replayed relationally; exact copies make
# LSH recall structurally 100 %, so the oracle pins n_hit == n_exact —
# any banding/signature/verify regression drops the Spark-side n_hit
# and the value hash mismatches.
ORACLE_SQL["q282_lsh_neardup_recall"] = """
    WITH panel AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE ('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 6))::BIGINT
            % 4 = 0
    ), corpus AS (
      SELECT vec_id, embedding FROM panel
      UNION ALL
      SELECT vec_id + 10000000000 AS vec_id, embedding
      FROM panel WHERE vec_id % 10 = 0
    ), exact AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                  6) >= 0.9
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(*) AS BIGINT) AS n_hit,
           count(*) >= count(*) * 0.9 AS recall_ge_90pct
    FROM exact
"""

# q283: the label-restricted exact top-5 (rounded-sim + shared
# tie-break) computed directly; the production equi-join plan must
# recover every row of it, so the oracle pins n_hit == n_exact.
ORACLE_SQL["q283_filtered_ann_recall"] = """
    WITH q AS (
      SELECT vec_id AS query_id, label, embedding
      FROM embeddings WHERE vec_id < 5
    ), ranked AS (
      SELECT q.query_id, c.vec_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                              / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                                 * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                              6) DESC,
                        c.vec_id
             ) AS r
      FROM q JOIN embeddings c ON c.label = q.label
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(*) AS BIGINT) AS n_hit,
           count(*) >= count(*) * 0.9 AS recall_ge_90pct
    FROM ranked WHERE r <= 5
"""


# q286: the integer-reduced Wald SPRT — the ±ln 19 thresholds at
# ln 1.5 per observation collapse to the exact integer boundary
# |2k − n| >= 8, so the whole monitor is integer arithmetic plus a
# calendar-bounded running sum; first crossing via row_number.
ORACLE_SQL["q286_sprt_monitor"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT)
                             >= 3600 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), walk AS (
      SELECT event_type, day,
             sum(2 * k - n) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS d
      FROM daily
    ), cr AS (
      SELECT event_type, day, d,
             row_number() OVER (
               PARTITION BY event_type ORDER BY day) AS rn
      FROM walk WHERE abs(d) >= 8
    ), tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_obs,
             CAST(sum(k) AS BIGINT) AS k_obs,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(2 * k - n) AS BIGINT) AS d_final
      FROM daily GROUP BY 1
    )
    SELECT t.event_type, t.n_obs, t.k_obs, t.n_days, t.d_final,
           CASE WHEN f.day IS NULL THEN 'continue'
                WHEN f.d >= 8 THEN 'accept_high'
                ELSE 'accept_low' END AS decision,
           strftime(f.day, '%Y-%m-%d') AS cross_day
    FROM tot t LEFT JOIN (SELECT * FROM cr WHERE rn = 1) f
      USING (event_type)
    ORDER BY t.event_type
"""

# q287: q272's cross-correlogram applied to self, grouped by key — the
# 1..7 lag spine replicates the daily table once, HUGEINT sufficient
# statistics, one double sequence per (key, lag).
ORACLE_SQL["q287_acf_daily"] = """
    WITH daily AS (
      SELECT event_type AS k,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS c
      FROM events
      WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), j AS (
      SELECT a.k, g.lag, a.c AS ca, b.c AS cb
      FROM generate_series(1, 7) g(lag), daily a
      JOIN daily b ON a.k = b.k AND a.t + g.lag = b.t
    ), agg AS (
      SELECT k, lag, CAST(count(*) AS BIGINT) AS n_days,
             sum(ca) AS sa, sum(cb) AS sb,
             sum(ca * ca) AS saa, sum(cb * cb) AS sbb,
             sum(ca * cb) AS sab
      FROM j GROUP BY 1, 2
    )
    SELECT k AS event_type, CAST(lag AS INTEGER) AS lag, n_days,
           round(CASE WHEN
                   CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
                   AND CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
                 THEN
                   (CAST(n_days AS DOUBLE) * CAST(sab AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                   / (sqrt(CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
                           - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                      * sqrt(CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
                             - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
                 END + 1e-9, 6) AS r
    FROM agg
    ORDER BY event_type, lag
"""

# q288: q38's tokenization convention; every count from one
# (source, token) hash agg, terminal divisions, natural-log Herdan C.
ORACLE_SQL["q288_lexical_diversity"] = """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+'))
               AS tok
      FROM documents
    ), f AS (
      SELECT source, tok, count(*) AS f
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ), agg AS (
      SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM f GROUP BY 1
    )
    SELECT source, n_tokens, n_types, n_hapax,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 + 1e-9, 6) AS ttr,
           round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
                 + 1e-9, 6) AS hapax_ratio,
           CASE WHEN n_tokens > 1 THEN
             round(ln(CAST(n_types AS DOUBLE))
                   / ln(CAST(n_tokens AS DOUBLE)) + 1e-9, 6)
           END AS herdan_c
    FROM agg
    ORDER BY source
"""


# q290: the {1,7} lag spine replicated into one grouped agg; exact
# cent absolute-difference sums; mase = (sad1·n7)/(sad7·n1), one
# terminal division; NULL on empty overlap or a perfectly periodic
# denominator.
ORACLE_SQL["q290_seasonal_mase"] = """
    WITH daily AS (
      SELECT event_type AS k,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), j AS (
      SELECT a.k, g.lag, a.c AS ca, b.c AS cb
      FROM (VALUES (1), (7)) g(lag), daily a
      JOIN daily b ON a.k = b.k AND a.t + g.lag = b.t
    ), per AS (
      SELECT k, lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(cb - ca)) AS BIGINT) AS sad
      FROM j GROUP BY 1, 2
    ), agg AS (
      SELECT k,
             max(CASE WHEN lag = 1 THEN n END) AS n1,
             max(CASE WHEN lag = 1 THEN sad END) AS sad1_cents,
             max(CASE WHEN lag = 7 THEN n END) AS n_s,
             max(CASE WHEN lag = 7 THEN sad END) AS sad_s_cents
      FROM per GROUP BY 1
    ), one AS (
      SELECT d.k, a.n1, a.sad1_cents, a.n_s, a.sad_s_cents
      FROM (SELECT DISTINCT k FROM daily) d
      LEFT JOIN agg a ON d.k = a.k
    )
    SELECT k AS event_type, n1, sad1_cents, n_s, sad_s_cents,
           round(CASE WHEN n1 > 0 AND n_s > 0 AND sad_s_cents > 0
                 THEN (CAST(sad1_cents AS DOUBLE) * CAST(n_s AS DOUBLE))
                      / (CAST(sad_s_cents AS DOUBLE)
                         * CAST(n1 AS DOUBLE))
                 END + 1e-9, 6) AS mase
    FROM one ORDER BY event_type
"""

# q292: OLS pass from exact sufficient statistics, Huber weights on
# the 1e-6 integer grid, exact-integer weighted refit — every double
# sequence mirrors the Spark expression order token-for-token.
ORACLE_SQL["q292_huber_trend"] = """
    WITH daily AS (
      SELECT event_type AS k,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), ols AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_days,
             sum(t) AS sx, sum(y) AS sy,
             sum(t * t) AS sxx, sum(t * y) AS sxy
      FROM daily GROUP BY 1
    ), params AS (
      SELECT k, n_days,
             CASE WHEN n_days >= 2
                   AND CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
                  THEN (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             END AS b0,
             sy, sx
      FROM ols
    ), pa AS (
      SELECT k, n_days, b0,
             (CAST(sy AS DOUBLE) - b0 * CAST(sx AS DOUBLE))
               / CAST(n_days AS DOUBLE) AS a0
      FROM params
    ), resid AS (
      SELECT d.k, d.t, d.y, p.n_days, p.b0,
             CAST(d.y AS DOUBLE)
               - (p.a0 + p.b0 * CAST(d.t AS DOUBLE)) AS r
      FROM daily d JOIN pa p ON d.k = p.k
    ), weighted AS (
      SELECT k, t, y, n_days, b0,
             CASE WHEN r IS NULL THEN NULL
                  WHEN abs(r) <= 5000 THEN 1000000
                  ELSE CAST(round(5000.0 / abs(r) * 1e6) AS BIGINT)
             END AS w
      FROM resid
    ), refit AS (
      SELECT k, n_days, b0,
             CAST(sum(CASE WHEN w < 1000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_downweighted,
             sum(w) AS sw, sum(w * t) AS swx, sum(w * y) AS swy,
             sum(w * t * t) AS swxx, sum(w * t * y) AS swxy
      FROM weighted GROUP BY 1, 2, 3
    ), fit AS (
      SELECT k, n_days, b0, n_downweighted,
             CASE WHEN n_days >= 2
                   AND CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                       - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)
                       <> 0.0
                   AND b0 IS NOT NULL
                  THEN (CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
                        - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
                       / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                          - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE))
             END AS b1,
             sw, swx, swy
      FROM refit
    )
    SELECT k AS event_type, n_days,
           CASE WHEN b0 IS NOT NULL THEN n_downweighted END
             AS n_downweighted,
           round(b0 / 100.0 + 1e-9, 6) AS slope_ols,
           round(b1 / 100.0 + 1e-9, 6) AS slope_huber,
           round((CAST(swy AS DOUBLE) - b1 * CAST(swx AS DOUBLE))
                 / CAST(sw AS DOUBLE) / 100.0 + 1e-9, 6)
             AS intercept_huber
    FROM fit ORDER BY event_type
"""

# q293: S and the tie-corrected 18-scaled variance as exact integers
# from the calendar-bounded daily table; z with the ±1 continuity
# correction, one double sequence.
ORACLE_SQL["q293_mann_kendall"] = """
    WITH daily AS (
      SELECT event_type AS k,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), s AS (
      SELECT a.k, CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON a.k = b.k AND a.t < b.t
      GROUP BY 1
    ), ties AS (
      SELECT k, CAST(sum(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT)
               AS tie18
      FROM (SELECT k, v, count(*) AS tt FROM daily GROUP BY 1, 2) lv
      GROUP BY 1
    ), tot AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
    ), base AS (
      SELECT t.k, t.n_days, COALESCE(s.s_stat, 0) AS s_stat,
             t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - ties.tie18
               AS var18
      FROM tot t LEFT JOIN s ON t.k = s.k JOIN ties ON t.k = ties.k
    ), scored AS (
      SELECT k, n_days, s_stat, var18,
             round(CASE WHEN n_days >= 2 AND var18 > 0 THEN
                     CASE WHEN s_stat > 0 THEN
                            (CAST(s_stat AS DOUBLE) - 1)
                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                          WHEN s_stat < 0 THEN
                            (CAST(s_stat AS DOUBLE) + 1)
                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                          ELSE 0.0 END
                   END + 1e-9, 6) AS z
      FROM base
    )
    SELECT k AS event_type, n_days, s_stat, var18, z,
           CASE WHEN z >= 1.96 THEN 'increasing'
                WHEN z <= -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM scored ORDER BY event_type
"""


# q294: users are the units — one (type, user) agg with conditional
# pre/post cent sums (absent period = 0), HUGEINT second moments, one
# double sequence for theta / corr^2.
ORACLE_SQL["q294_cuped_audit"] = """
    WITH per_user AS (
      SELECT event_type AS k, user_id AS u,
             CAST(COALESCE(sum(CASE WHEN CAST(ts AS DATE)
                                      < DATE '2024-01-16'
                    THEN CAST(round(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS x,
             CAST(COALESCE(sum(CASE WHEN NOT (CAST(ts AS DATE)
                                      < DATE '2024-01-16')
                    THEN CAST(round(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), agg AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_users,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
      FROM per_user GROUP BY 1
    ), fit AS (
      SELECT k, n_users,
             CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
             CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      FROM agg
    )
    SELECT k AS event_type, n_users,
           round(CASE WHEN vx > 0 THEN cov / vx END + 1e-9, 6)
             AS theta,
           round(CASE WHEN vx > 0 AND vy > 0
                 THEN cov * cov / (vx * vy) END * 100.0 + 1e-9, 4)
             AS var_reduction_pct
    FROM fit ORDER BY event_type
"""

# q295: q48's portable md5 bucket mod 2; per-day DISTINCT users per
# arm; chi^2 one terminal division.
ORACLE_SQL["q295_srm_check"] = """
    WITH units AS (
      SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             user_id AS u
      FROM events
    ), arms AS (
      SELECT day,
             (('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 8))::BIGINT
              % 2 = 0) AS is_a
      FROM units
    ), agg AS (
      SELECT day,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
               AS n_b
      FROM arms GROUP BY 1
    )
    SELECT day, n_a, n_b,
           round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) + 1e-9, 6) AS chi2,
           round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) + 1e-9, 6) > 3.841459
             AS srm_flag
    FROM agg ORDER BY day
"""

# q296: exact integer daily counts; the unbiased variance-to-mean
# ratio as one double sequence.
ORACLE_SQL["q296_dispersion_index"] = """
    WITH daily AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), agg AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS scc
      FROM daily GROUP BY 1
    )
    SELECT k AS event_type, n_days,
           round(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)
                 + 1e-9, 6) AS mean_per_day,
           round(CASE WHEN n_days >= 2 AND sc > 0 THEN
                   ((CAST(n_days AS DOUBLE) * CAST(scc AS DOUBLE)
                     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                    / (CAST(n_days AS DOUBLE)
                       * (CAST(n_days AS DOUBLE) - 1)))
                   / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
                 END + 1e-9, 6) AS dispersion,
           round(CASE WHEN n_days >= 2 AND sc > 0 THEN
                   ((CAST(n_days AS DOUBLE) * CAST(scc AS DOUBLE)
                     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                    / (CAST(n_days AS DOUBLE)
                       * (CAST(n_days AS DOUBLE) - 1)))
                   / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
                 END + 1e-9, 6) > 1.5 AS overdispersed
    FROM agg ORDER BY event_type
"""


# q299: q132's exact 1e-6 sqrt-grid weights; Kish ESS as exact
# integer sums + one terminal division.
ORACLE_SQL["q299_mixture_ess"] = """
    WITH groups AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ), w AS (
      SELECT CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
               AS s
      FROM groups
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             sum(s) AS sw, sum(s * s) AS sww
      FROM w
    )
    SELECT n_rows,
           round(CASE WHEN sww > 0 THEN
                   CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                   / CAST(sww AS DOUBLE) END + 1e-9, 6) AS ess,
           round(CASE WHEN sww > 0 THEN
                   CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                   / CAST(sww AS DOUBLE) END
                 / CAST(n_rows AS DOUBLE) + 1e-9, 6) AS ess_ratio
    FROM agg
"""

# q300: running-mean deviations snapped to the cent grid per row (the
# only float step); the walk, its running min, PH, and the first
# lambda-crossing are exact integer window arithmetic.
ORACLE_SQL["q300_page_hinkley"] = """
    WITH daily AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), cum AS (
      SELECT k, d, x,
             sum(x) OVER w AS s,
             row_number() OVER (PARTITION BY k ORDER BY d) AS t
      FROM daily
      WINDOW w AS (PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING)
    ), dev AS (
      SELECT k, d,
             CAST(round(CAST(x AS DOUBLE)
                        - CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
                  AS BIGINT) - 500 AS dev
      FROM cum
    ), walk AS (
      SELECT k, d, sum(dev) OVER w AS m
      FROM dev
      WINDOW w AS (PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING)
    ), ph AS (
      SELECT k, d, m - min(m) OVER w AS ph
      FROM walk
      WINDOW w AS (PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING)
    ), cr AS (
      SELECT k, min(d) AS aday FROM ph WHERE ph > 10000 GROUP BY 1
    ), tot AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_days,
             CAST(max(ph) AS BIGINT) AS ph_max_cents
      FROM ph GROUP BY 1
    )
    SELECT t.k AS event_type, t.n_days, t.ph_max_cents,
           cr.aday IS NOT NULL AS alarmed,
           strftime(cr.aday, '%Y-%m-%d') AS alarm_day
    FROM tot t LEFT JOIN cr ON t.k = cr.k
    ORDER BY event_type
"""


# q301: the oracle recomputes every post-decode statistic from the
# closed-form sample arithmetic over a bounded spine (n <= 128, so a
# fixed range + filter replaces the lateral DuckDB's range() cannot
# bind) — value parity proves the WAV container round-trip
# reconstructed every int16 sample exactly.
ORACLE_SQL["q301_wav_decode_stats"] = """
    WITH ids AS (
      SELECT doc_id AS d FROM documents WHERE doc_id % 5 = 0
    ), spine AS (
      SELECT d, CAST(32 + d % 97 AS BIGINT) AS n FROM ids
    ), samples AS (
      SELECT s.d, s.n,
             ((1234 * t.t + 57 * s.d) % 4096) - 2048 AS v
      FROM spine s, range(0, 129) t(t)
      WHERE t.t < s.n
    ), agg AS (
      SELECT d, n,
             CAST(sum(v) AS BIGINT) AS sum_samples,
             CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
             CAST(max(abs(v)) AS BIGINT) AS peak_abs,
             CAST(sum(v * v) AS BIGINT) AS energy
      FROM samples GROUP BY 1, 2
    )
    SELECT d AS doc_id, n AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           sum_samples, sum_abs, peak_abs, energy,
           CAST(CASE WHEN n >= 16 THEN 1 + (n - 16) // 8
                     ELSE 0 END AS BIGINT) AS n_frames
    FROM agg
"""


# q302: q109's integer-NLL-grid discipline one context level up — the
# adjacent-pair transform mirrors the Spark in-array construction
# (q16's shingle precedent); c1 re-aggregates from the c2 level table;
# every corpus sum is occurrence-count x grid-NLL exact integers.
ORACLE_SQL["q302_bigram_lm_lang"] = """
    WITH base AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 100) < 80 AS train,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), pairs AS (
      SELECT doc_id, lang, train, p[1] AS a, p[2] AS b
      FROM (
        SELECT doc_id, lang, train,
               unnest(CASE WHEN len(t) >= 2
                      THEN list_transform(range(1, len(t)),
                                          i -> [t[i], t[i + 1]])
                      ELSE CAST([] AS VARCHAR[][]) END) AS p
        FROM base) u
    ), c2 AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS c2
      FROM pairs WHERE train GROUP BY 1, 2
    ), c1 AS (
      SELECT a, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
    ), v AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
      FROM (SELECT unnest([a, b]) AS tok FROM pairs WHERE train) t
    ), sc AS (
      SELECT lang, a, b, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2, 3
    ), lm AS (
      SELECT sc.lang, sc.n,
             CAST(round(ln(CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)
                           / CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE))
                        * 1000000) AS BIGINT) AS nll6
      FROM sc
      LEFT JOIN c2 ON sc.a = c2.a AND sc.b = c2.b
      LEFT JOIN c1 ON sc.a = c1.a
      CROSS JOIN v
    ), nd AS (
      SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM pairs GROUP BY 1
    ), agg AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS n_bigrams,
             CAST(sum(n * nll6) AS BIGINT) AS sum_nll6
      FROM lm GROUP BY 1
    )
    SELECT nd.lang, nd.n_docs, agg.n_bigrams, agg.sum_nll6,
           round(CAST(agg.sum_nll6 AS DOUBLE)
                 / CAST(agg.n_bigrams AS DOUBLE) / 1000000
                 + 1e-9, 6) AS avg_nll
    FROM nd JOIN agg ON nd.lang = agg.lang
    ORDER BY nd.lang
"""


# q303: the batch twin of the streaming SRM — distinct (day, user)
# units, the portable md5 arm, chi^2, AND the availableNow emission
# cutoff (window end <= max(ts) - 1 day): value parity pins the
# multi-stateful pipeline's eviction arithmetic, not just the counts.
ORACLE_SQL["q303_stream_srm"] = """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    units AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
      FROM events
    ), arms AS (
      SELECT day,
             (('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 8))::BIGINT
              % 2 = 0) AS is_a
      FROM units
    ), agg AS (
      SELECT day,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
               AS n_b
      FROM arms GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_a, n_b,
           round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) + 1e-9, 6) AS chi2,
           round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) + 1e-9, 6) > 3.841459
             AS srm_flag
    FROM agg, mx
    WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY
          <= mx.m - INTERVAL 1 DAY
"""
