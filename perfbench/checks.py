"""Correctness checks: each workload's output against an independent
computation.

The batch outputs are compared with DuckDB SQL over the same generated
inputs; the stream output with a DuckDB ``GROUP BY`` over the published
messages; the graph output with the generator's planted components.
Every check returns a list of mismatch descriptions; an empty list means
the output is correct. The SQL here is written from the task's
definition, not taken from the program, so a fault shared by the
program and its own oracles still shows.
"""

from __future__ import annotations

import duckdb

# -------------------------------------------------------------- llm_prep

STOPWORDS = {
    "de": "der|die|das|und|ist|nicht|ein|mit",
    "en": "the|a|of|and|to|in|is|it",
    "es": "el|la|de|que|y|los|una|por",
    "fr": "le|la|les|et|des|une|est|que",
}


def _hits(lang: str) -> str:
    return f"len(regexp_extract_all(lower(text), '\\b({STOPWORDS[lang]})\\b'))"


LLM_EXPECTED = """
    WITH docs AS (SELECT doc_id, text FROM read_parquet('{inputs}/corpus/*.parquet')),
    dedup AS (
      SELECT doc_id, text FROM docs
      QUALIFY row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) ORDER BY doc_id) = 1
    ),
    f AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
             len(regexp_extract_all(text, '[A-Za-z0-9]{{1,4}}|[^A-Za-z0-9\\s]')) AS bpe_tokens,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
             {de} AS s_de, {en} AS s_en, {es} AS s_es, {fr} AS s_fr,
             len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS s_zh
      FROM dedup
    )
    SELECT doc_id, text,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_guess,
           (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN n_chars / greatest(ws_tokens, 1) BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END
            + CASE WHEN s_en / greatest(ws_tokens, 1) >= 0.05 THEN 0.25 ELSE 0.0 END
            + CASE WHEN punct / greatest(n_chars, 1) <= 0.1 THEN 0.25 ELSE 0.0 END)::DOUBLE AS quality,
           ws_tokens, bpe_tokens
    FROM f WHERE ws_tokens >= {min_words}
"""

LLM_DIGEST = """
    SELECT count(*), sum(hash(doc_id, text, lang_guess, CAST(quality AS DOUBLE),
                              CAST(ws_tokens AS BIGINT), CAST(bpe_tokens AS BIGINT)))
    FROM ({rel})
"""


def llm_expected(inputs: str, min_words: int) -> str:
    return LLM_EXPECTED.format(inputs=inputs, min_words=min_words,
                               **{lang: _hits(lang) for lang in STOPWORDS})


def check_llm(inputs: str, out: str, truth: dict) -> list[str]:
    errs = []
    with duckdb.connect() as con:
        want = con.sql(LLM_DIGEST.format(rel=llm_expected(inputs, truth["min_words"]))).fetchone()
        got = con.sql(LLM_DIGEST.format(rel=f"SELECT * FROM read_parquet('{out}/docs/*.parquet')")).fetchone()
    if got != want:
        errs.append(f"llm output: (rows, hash) {got} vs {want} expected")
    if got[0] != truth["distinct_kept"]:
        errs.append(f"llm survivors: {got[0]} vs {truth['distinct_kept']} distinct long texts planted")
    return errs


# -------------------------------------------------------- stream_windows

STREAM_EXPECTED = """
    WITH m AS (
      SELECT json_extract_string(value, '$.user') AS user,
             CAST(json_extract(value, '$.amount') AS BIGINT) AS amount,
             epoch_ms(CAST(replace(ts, 'Z', '') AS TIMESTAMP)) AS ms
      FROM read_json('{inputs}/queue/*.json', format = 'newline_delimited',
                     columns = {{key: 'VARCHAR', value: 'VARCHAR', topic: 'VARCHAR', ts: 'VARCHAR'}})
      WHERE key <> '{sentinel}'
    )
    SELECT CAST(floor(ms / {window_ms}) * {window_s} AS BIGINT) AS window_start, user,
           count(*) AS n, sum(amount) AS total
    FROM m GROUP BY ALL ORDER BY 1, 2
"""


def stream_expected(inputs: str, truth: dict) -> list[tuple]:
    sql = STREAM_EXPECTED.format(inputs=inputs, sentinel=truth["sentinel_key"],
                                 window_s=truth["window_s"], window_ms=truth["window_s"] * 1000)
    with duckdb.connect() as con:
        return [tuple(r) for r in con.sql(sql).fetchall()]


def check_stream(inputs: str, rows: list[tuple], truth: dict) -> list[str]:
    """``rows``: (window start in epoch seconds, user, count, sum) per
    emitted window, in any order."""
    want = stream_expected(inputs, truth)
    got = sorted(rows)
    errs = []
    if got != want:
        diff = sorted(set(got) ^ set(want))[:3]
        errs.append(f"stream windows: {len(got)} rows vs {len(want)} expected; differing rows {diff}")
    counted = sum(r[2] for r in got)
    if counted != truth["messages"]:
        errs.append(f"stream windows count {counted} messages, {truth['messages']} published")
    return errs


# ------------------------------------------------------ graph_components


def check_graph(inputs: str, table, truth: dict) -> list[str]:
    """``table``: an Arrow table (id, component)."""
    with duckdb.connect() as con:
        con.register("got", table)
        n, wrong, missing, comps = con.sql(f"""
            SELECT count(g.id), count(*) FILTER (WHERE g.component IS DISTINCT FROM t.component),
                   count(*) FILTER (WHERE g.id IS NULL), count(DISTINCT g.component)
            FROM read_parquet('{inputs}/labels.parquet') t FULL JOIN got g USING (id)
        """).fetchone()
    errs = []
    if n != truth["nodes"] or missing:
        errs.append(f"graph: {n} labelled nodes, {truth['nodes']} planted, {missing} missing")
    if wrong:
        errs.append(f"graph: {wrong} nodes labelled other than their planted component minimum")
    if comps != truth["components"]:
        errs.append(f"graph: {comps} components, {truth['components']} planted")
    return errs


def check_persisted(before: int, after: int) -> list[str]:
    """Persisted RDDs counted just before and just after one
    ``connected_components`` call. The returned frame reads the final
    labels checkpoint, so that one RDD stays persisted by design; any
    other round's checkpoint or the edge list left behind is a leak."""
    if after - before > 1:
        return [f"graph: {after - before} persisted RDDs left by connected_components, 1 expected"]
    return []
