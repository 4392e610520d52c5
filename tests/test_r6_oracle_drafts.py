"""Round-6 oracle drafts: DuckDB SQL twins for the banked round-5
operators, proven here so registration next round is a copy-paste.

Same comparison the driver runs (sorted values, column-name-aligned),
on a shared parquet input both engines read — making these THREE-way
checked ops (Spark vs in-test python reference vs DuckDB).
"""

import pytest
from pyspark.sql import functions as F

from paperslicer_spark.operators.curation import (
    apply_mixture, boilerplate_strip, mixture_waterfill)
from paperslicer_spark.operators.metrics import cohen_kappa

pytestmark = pytest.mark.usefixtures("spark")


def _cmp(spark_df, sql, tmp_path, views):
    """Driver-style compare: sorted rows, 6dp-normalized floats."""
    import duckdb

    con = duckdb.connect()
    for name, pdf in views.items():
        con.register(name, pdf)
    got = spark_df.toPandas()
    want = con.sql(sql).df()
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(got.columns)

    def norm(df):
        rows = []
        for t in df[cols].itertuples(index=False):
            rows.append(tuple(
                round(v, 6) if isinstance(v, float) else v for v in t))
        return sorted(rows)

    assert norm(got) == norm(want)


# ---------- boilerplate_strip ----------

def test_oracle_boilerplate(spark, tmp_path):
    head, foot = "SITE HEADER", "site footer | legal"
    rows = [(i, f"{head}\nbody {i} alpha\nbody {i} beta\n{foot}")
            for i in range(40)]
    rows += [(100 + i, f"{head}\nsolo {i}") for i in range(10)]
    pdf_in = __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf_in)
    got = boilerplate_strip(df, "doc_id", "text",
                            min_df=0.5, min_docs=2)
    sql = r"""
    WITH lines AS (
      SELECT doc_id, u.l AS line, u.i AS lidx
      FROM docs, LATERAL (
        SELECT UNNEST(string_split(text, chr(10))) AS l,
               UNNEST(generate_series(1, len(string_split(text, chr(10))))) AS i
      ) u
      WHERE trim(u.l) <> ''
    ), dfreq AS (
      SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
    ), total AS (SELECT count(*) AS n FROM docs),
    boiler AS (
      SELECT line FROM dfreq, total WHERE df >= 2 AND df >= 0.5 * n
    ), kept AS (
      SELECT doc_id, line, lidx FROM lines
      WHERE line NOT IN (SELECT line FROM boiler)
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY lidx) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ), stats AS (
      SELECT doc_id,
             (SELECT count(*) FROM UNNEST(string_split(text, chr(10))) AS t(l)
              WHERE trim(l) <> '') AS n_lines
      FROM docs
    )
    SELECT s.doc_id, coalesce(r.clean_text, '') AS clean_text,
           CAST(s.n_lines AS BIGINT) AS n_lines,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
    FROM stats s LEFT JOIN rebuilt r USING (doc_id)
    """
    _cmp(got, sql, tmp_path, {"docs": pdf_in})


# ---------- cohen_kappa ----------

def test_oracle_kappa(spark, tmp_path):
    import random
    rng = random.Random(11)
    rows = [(i, r, rng.choice("xyz"))
            for i in range(300) for r in "abc" if rng.random() < 0.85]
    pdf_in = __import__("pandas").DataFrame(
        rows, columns=["item", "rater", "label"])
    got = cohen_kappa(spark.createDataFrame(pdf_in),
                      "item", "rater", "label")
    sql = """
    WITH cont AS (
      SELECT a.rater AS rater_a, b.rater AS rater_b,
             a.label AS la, b.label AS lb, count(*) AS c
      FROM ann a JOIN ann b ON a.item = b.item AND a.rater < b.rater
      GROUP BY 1, 2, 3, 4
    ), totals AS (
      SELECT rater_a, rater_b, sum(c) AS n,
             sum(CASE WHEN la = lb THEN c ELSE 0 END) AS agree
      FROM cont GROUP BY 1, 2
    ), ma AS (
      SELECT rater_a, rater_b, la AS l, sum(c) AS m FROM cont GROUP BY 1,2,3
    ), mb AS (
      SELECT rater_a, rater_b, lb AS l, sum(c) AS m FROM cont GROUP BY 1,2,3
    ), prod AS (
      SELECT ma.rater_a, ma.rater_b, sum(ma.m * mb.m) AS sab
      FROM ma JOIN mb USING (rater_a, rater_b, l) GROUP BY 1, 2
    )
    SELECT t.rater_a, t.rater_b, CAST(t.n AS BIGINT) AS n_items,
           round(t.agree / t.n, 6) AS po,
           round(coalesce(p.sab, 0) / (t.n * t.n), 6) AS pe,
           round(CASE
             WHEN coalesce(p.sab, 0) / (t.n * t.n) < 1.0 THEN
               (t.agree / t.n - p.sab / (t.n * t.n))
               / (1.0 - p.sab / (t.n * t.n))
             WHEN t.agree = t.n THEN 1.0 END, 6) AS kappa
    FROM totals t LEFT JOIN prod p USING (rater_a, rater_b)
    """
    _cmp(got, sql, tmp_path, {"ann": pdf_in})


# ---------- apply_mixture ----------

def test_oracle_apply_mixture(spark, tmp_path):
    rows = [(i, ["web", "code", "books"][i % 3], f"t{i}")
            for i in range(3000)]
    pdf_in = __import__("pandas").DataFrame(
        rows, columns=["doc_id", "source", "text"])
    docs = spark.createDataFrame(pdf_in)
    srcs = spark.createDataFrame(
        [("web", 1000, 1.0), ("code", 1000, 1.0), ("books", 1000, 3.0)],
        "source string, n_tokens bigint, weight double")
    plan = mixture_waterfill(srcs, 1500)
    got = apply_mixture(docs, plan, "source", "doc_id")
    # fixture replay: the solved rates enter the SQL as literals
    vals = ", ".join(f"('{r['source']}', {r['rate']!r})"
                     for r in plan.collect())
    sql = f"""
    WITH rates(source, rate) AS (VALUES {vals})
    SELECT d.doc_id, d.source, d.text
    FROM docs d JOIN rates r USING (source)
    WHERE CAST('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 1000000000 < CAST(round(r.rate * 1000000000) AS BIGINT)
    """
    _cmp(got, sql, tmp_path, {"docs": pdf_in})
