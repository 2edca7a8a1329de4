"""Scalar function parity tests (SURVEY.md §2G)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from irclogbot_spark.functions.scalar import human_fmt, iso_posted


def _reference_human_fmt(num):
    # transcription of /root/reference/utils.py:106-122 for the test oracle
    num = int(num)
    units = list(zip(["bytes", "K", "MB", "GB", "TB", "PB"], [0, 0, 1, 2, 2, 2]))
    if num > 1:
        exponent = min(int(math.log(num, 1024)), len(units) - 1)
        quotient = float(num) / 1024**exponent
        unit, num_decimals = units[exponent]
        format_string = "{:.%sf} {}" % (num_decimals)
        return format_string.format(quotient, unit)
    if num == 0:
        return "0 bytes"
    if num == 1:
        return "1 byte"


CASES = [0, 1, 2, 999, 1023, 1024, 1025, 10_000, 1024**2 - 1, 1024**2, 5 * 1024**2 + 123,
         1024**3, 7 * 1024**3, 1024**4, 1024**5, 3 * 1024**5, 1024**6, -5]


def test_human_fmt_matches_reference(spark):
    df = spark.createDataFrame([(n,) for n in CASES], "n long")
    got = {r.n: r.h for r in df.select("n", human_fmt("n").alias("h")).collect()}
    for n in CASES:
        assert got[n] == _reference_human_fmt(n), f"n={n}: {got[n]!r} != {_reference_human_fmt(n)!r}"


def test_iso_posted_format(spark):
    df = spark.createDataFrame([("2024-03-04 05:06:07",)], "t string").select(
        iso_posted(F.to_timestamp("t")).alias("s")
    )
    assert df.first().s == "2024-03-04T05:06:07"


def test_hashed_linear_logit_exact_and_partition_invariant(spark):
    """functions/quality.py: the fixed-point logit equals the
    hand-computed Python replica and is invariant to repartitioning
    (exact integer sums -- no float accumulation order anywhere)."""
    import hashlib

    from irclogbot_spark.functions.quality import hashed_linear_logit, quality_weights
    from irclogbot_spark.operators.dedup import md5_hash31

    w, b = quality_weights()
    dim = len(w)

    def py_logit(text: str) -> float:
        toks = text.split()
        s = b
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 2147483647
            s += w[h % dim]
        return s / (16 * max(len(toks), 1))

    rows = [(1, "the quick brown fox"), (2, ""), (3, "one"), (4, "a b c d e f g h")]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    def run(frame):
        return {
            r.doc_id: r.logit
            for r in frame.select(
                "doc_id",
                hashed_linear_logit(
                    F.col("text"), w, b, hash_fn=md5_hash31
                ).alias("logit"),
            ).collect()
        }

    out = run(d)
    for i, t in rows:
        assert out[i] == py_logit(t), (i, t)
    assert run(d.repartition(7)) == out


def test_compression_ratio_matches_python_zlib(spark, sf_dir):
    """Differential vs pure-Python zlib on the real corpus (the
    winnow convention for non-SQL-expressible ops)."""
    import zlib

    from irclogbot_spark.functions.quality import compression_ratio_milli
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    got = {
        r["doc_id"]: r["m"]
        for r in docs.select(
            "doc_id", compression_ratio_milli("text").alias("m")
        ).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        raw = r["text"].encode("utf-8")
        want = (len(zlib.compress(raw, 6)) * 1000) // len(raw) if raw else None
        assert got[r["doc_id"]] == want


def test_compression_ratio_flags_repetitive_text(spark):
    from irclogbot_spark.functions.quality import compression_ratio_milli
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "spam " * 500), (2, None), (3, "")], ["doc_id", "text"]
    ).select("doc_id", compression_ratio_milli("text").alias("m"))
    got = {r["doc_id"]: r["m"] for r in df.collect()}
    assert got[1] is not None and got[1] < 100  # highly compressible
    assert got[2] is None and got[3] is None


def test_canonicalize_url_rule_battery(spark):
    from irclogbot_spark.functions.url import canonicalize_url

    cases = [
        # tracking params + default port + case + fragment + sort
        ("HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#top",
         "http://example.com/a?a=1&b=2"),
        ("http://example.com/a?a=1&b=2", "http://example.com/a?a=1&b=2"),
        # empty path -> '/', default https port
        ("https://Site.org:443", "https://site.org/"),
        ("https://site.org", "https://site.org/"),
        # all params tracking -> no '?'
        ("https://site.org/p?fbclid=abc&gclid=1", "https://site.org/p"),
        # utm_ prefix family, value case preserved
        ("https://site.org/p?x=UPPER&utm_campaign=z",
         "https://site.org/p?x=UPPER"),
        # non-default port kept; ':' in path untouched
        ("http://h.com:8080/keep:port", "http://h.com:8080/keep:port"),
        # other schemes: port kept (rule is per-scheme), host lowered
        ("ftp://Files.net:21/x", "ftp://files.net:21/x"),
        # path/query case-sensitivity preserved
        ("https://site.org/Case/Path?Q=V", "https://site.org/Case/Path?Q=V"),
        # not-a-URL passthrough, lowercased
        ("not a url at ALL", "not a url at all"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i int, u string"
    )
    got = {r.i: r.c for r in df.select("i", canonicalize_url("u").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_canonicalize_url_idempotent_over_combinatorial_battery(spark):
    """The defining property of a canonical form: canon(canon(u)) ==
    canon(u), over the full combinatorial fixture space (scheme x
    host-case x port x path x query x fragment = 864 URLs), in one
    Spark job."""
    from itertools import product

    from pyspark.sql import functions as F

    from irclogbot_spark.functions.url import canonicalize_url

    urls = [
        f"{scheme}://{host}{port}{path}{query}{frag}"
        for scheme, host, port, path, query, frag in product(
            ["http", "HTTP", "https", "HTTPS"],
            ["Example.COM", "example.com", "a.b.ORG"],
            ["", ":80", ":443", ":8080"],
            ["", "/", "/Path/x"],
            ["", "?b=2&a=1", "?utm_source=x&k=v"],
            ["", "#Frag"],
        )
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, u string")
    out = df.select(
        "i",
        canonicalize_url("u").alias("c1"),
        canonicalize_url(canonicalize_url("u")).alias("c2"),
    ).collect()
    assert len(out) == len(urls)
    for r in out:
        assert r.c1 == r.c2, (urls[r.i], r.c1, r.c2)
        assert "#" not in r.c1 and "utm_" not in r.c1, (urls[r.i], r.c1)


#: doubles whose SQL text must parse to the exact bits F.lit makes:
#: inexact decimals, the smallest subnormal, the largest finite value,
#: negative zero and the non-finite values, which have no literal
SQL_DOUBLES = [0.1, 1 / 3, 5e-324, 1.7976931348623157e308, -0.0,
               float("nan"), float("inf"), float("-inf")]
SQL_STRINGS = ["it's", "back\\slash", "new\nline", "ünï¢ødé ✓"]


def test_sql_literals_match_f_lit(spark):
    """F.expr(sql_double(x)) and F.expr(sql_string(s)) collect to the
    same type and the same value (bits, for doubles) as F.lit."""
    import struct

    from irclogbot_spark.functions.lits import lit_double_array, sql_double, sql_string

    cols = []
    for i, v in enumerate(SQL_DOUBLES + SQL_STRINGS):
        text = sql_double(v) if isinstance(v, float) else sql_string(v)
        cols += [F.expr(text).alias(f"e{i}"), F.lit(v).alias(f"l{i}")]
    df = spark.range(1).select(*cols, lit_double_array(SQL_DOUBLES).alias("arr"))
    types = dict(df.dtypes)
    row = df.first()
    bits = lambda x: struct.pack(">d", x)  # noqa: E731
    for i, v in enumerate(SQL_DOUBLES + SQL_STRINGS):
        got, want = row[f"e{i}"], row[f"l{i}"]
        assert types[f"e{i}"] == types[f"l{i}"], (v, types[f"e{i}"])
        if isinstance(v, float):
            assert bits(got) == bits(want) == bits(v), (v, got)
        else:
            assert got == want == v
    assert [bits(x) for x in row.arr] == [bits(x) for x in SQL_DOUBLES]


@pytest.mark.parametrize("name", ["id", "`te``xt`", "s.text", "`s.text`.`a``b`"])
def test_sql_ident_resolves_as_f_col(spark, name):
    """sql_ident(name) names the column F.col(name) resolves: a dotted
    path stays nested, a backquoted part keeps its dots, and a
    backquote inside a part is doubled."""
    from irclogbot_spark.functions.lits import sql_ident

    df = spark.createDataFrame(
        [(1, "t", ("x",), ("y",))],
        "id long, `te``xt` string, s struct<text: string>, "
        "`s.text` struct<`a``b`: string>",
    )
    assert df.select(F.expr(sql_ident(name))).first() == df.select(F.col(name)).first()
    with pytest.raises(ValueError):
        sql_ident("te`xt")  # F.col rejects it too: an unpaired backquote
