"""Property-based tests (hypothesis) for the text-grammar parsers.

The reference proves its composite decoder against hand-picked literals
(py-tests/test_custom_types.py:135-181); the binary-protocol decoder it
uses (pg_custom_types.rs:169-213) can't be fuzzed without a live server.
Our text-grammar parser CAN: serialize arbitrary field lists with
PostgreSQL's own output quoting rules, parse them back, and require the
round trip to be the identity — for any fields, not just the fixtures.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

NEEDS_QUOTE = set(',()"\\ \t\n')


def pg_serialize_composite(fields: list[str | None]) -> str:
    """PostgreSQL's composite output syntax (docs §8.16.6): NULL renders as
    an unquoted empty field; a non-NULL value is double-quoted when empty or
    containing delimiter/quote/backslash/whitespace, with " doubled and
    backslash doubled inside quotes."""
    out = []
    for v in fields:
        if v is None:
            out.append("")
        elif v == "" or any(c in NEEDS_QUOTE for c in v):
            out.append('"' + v.replace("\\", "\\\\").replace('"', '""') + '"')
        else:
            out.append(v)
    return "(" + ",".join(out) + ")"


def parse_composites(spark, texts: list[str | None], n: int) -> list[list[str | None] | None]:
    """One Spark job: each text through ``parse_composite`` with ``n`` text
    fields, in input order (a NULL struct as None)."""
    from pyspark.sql import functions as F

    from pg2parquet_spark.typemap import parse_composite

    names = [f"f{i}" for i in range(n)]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, txt string")
    parsed = df.select("id", parse_composite(F.col("txt"), names).alias("s")).orderBy("id")
    return [None if r.s is None else list(r.s) for r in parsed.collect()]


field_value = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="\x00"  # PG text can't hold NUL
        ),
        max_size=25,
    ),
)


@settings(max_examples=20, derandomize=True, deadline=None)
@given(st.lists(st.lists(field_value, min_size=1, max_size=6), min_size=50, max_size=50))
def test_composite_text_grammar_roundtrip(spark, batch):
    """parse(serialize(f)) == f for any fields, a batch of 50 composites per
    Spark job; missing trailing fields read as NULL."""
    got = parse_composites(spark, [pg_serialize_composite(f) for f in batch], 6)
    assert got == [(f + [None] * 6)[:6] for f in batch]


def test_composite_parser_on_adversarial_corpus(spark):
    """Hand-picked adversarial composites, NULL input and non-canonical forms
    PostgreSQL's record_in also accepts (mixed quoting, escapes outside
    quotes) parse to the values they spell."""
    corpus: list[list[str | None]] = [
        [None, None, None],
        ["", None, '"'],
        ["a,b", "(c)", "d\\e"],
        ['x""y', " lead", "trail "],
        ["plain", "", None],
        ["\\", '"""', ",,,"],
        ["nested(paren", ')"', '\\"'],
        ["tab\there", "nl\nhere", "sp ace"],
    ]
    texts = [pg_serialize_composite(f) for f in corpus]
    texts += ['(ab"c,d"ef,\\",x\\,y)', "()", '("")', '(" a ",)', None]
    want = [(f + [None] * 3)[:3] for f in corpus]
    want += [["abc,def", '"', "x,y"], [None] * 3, ["", None, None], [" a ", None, None], None]
    assert parse_composites(spark, texts, 3) == want


def test_range_grammar_exhaustive_matrix(spark):
    """Exhaustive matrix over the documented range-text contract (scalar
    subtype, no embedded commas): every combination of present/absent
    bounds x inclusivity, plus 'empty' and SQL NULL. Expected structs are
    computed independently in Python, mirroring PG's canonical output rules
    (absent bound is never inclusive)."""
    from pyspark.sql import functions as F

    from pg2parquet_spark.typemap.ranges import parse_range

    bounds = [None, -5, 0, 7, 123456]
    cases = []      # (text, expected (lower, upper, lo_inc, up_inc, empty))
    for lo in bounds:
        for hi in bounds:
            for lo_br, lo_inc in (("[", True), ("(", False)):
                for hi_br, up_inc in (("]", True), (")", False)):
                    txt = (
                        lo_br
                        + ("" if lo is None else str(lo))
                        + ","
                        + ("" if hi is None else str(hi))
                        + hi_br
                    )
                    cases.append(
                        (txt, (lo, hi, lo_inc and lo is not None, up_inc and hi is not None, False))
                    )
    cases.append(("empty", (None, None, False, False, True)))
    cases.append((None, None))

    rows = [(i, t) for i, (t, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, txt string")
    parsed = df.select(
        "id", parse_range(F.col("txt"), lambda c: c.cast("int")).alias("r")
    ).orderBy("id")
    for r, (txt, want) in zip(parsed.collect(), cases):
        got = None if r.r is None else (
            r.r.lower, r.r.upper, r.r.lower_inclusive, r.r.upper_inclusive, r.r.is_empty
        )
        assert got == want, (txt, got, want)


def test_hof_bucket_keys_bit_identical_to_unrolled_oracle(spark):
    """The r8 codegen fix swapped the Spark-side LSH bucket keys from the
    unrolled SQL strings (still what the DuckDB oracles evaluate) to
    zip_with + left-fold aggregate columns; plane_dot_col's docstring
    argues IEEE bit-identity (0.0+t==t; zero-weight terms add ±0.0 which
    never changes a non-negative-zero accumulator). This pins that
    argument on ADVERSARIAL values the fixture corpora never contain —
    ±0.0, float32 denormals, extreme magnitudes, exact-cancellation pairs
    — by evaluating BOTH forms in the same Spark session per hash-table
    offset and requiring equal keys row-for-row. (DuckDB parses the
    identical unrolled string, and cross-engine agreement on fixture data
    is hash-gated by every dedup_embedding_* oracle row.)"""
    import struct

    from pyspark.sql import functions as F

    from pg2parquet_spark.operators.dedup import _ADAPT_MAX_BITS, _EMB_LSH_OFFSETS
    from pg2parquet_spark.operators.similarity import (
        EMB_DIM,
        bucket_col_offset_n,
        bucket_sql_offset_n,
    )

    denorm = struct.unpack("f", struct.pack("I", 1))[0]  # smallest f32 denormal
    specials = [0.0, -0.0, denorm, -denorm, 1e30, -1e30, 1e-30, 3.14159, -2.5]
    vecs = []
    for s in range(12):
        v = [specials[(s * 7 + i) % len(specials)] for i in range(EMB_DIM)]
        if s % 3 == 0:
            v[1] = -v[0]  # exact cancellation inside the fold
        if s % 4 == 0:
            v = [0.0 if i % 2 else -0.0 for i in range(EMB_DIM)]  # all ±0 dots
        vecs.append((s, v))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cols = []
    for t, off in enumerate(_EMB_LSH_OFFSETS):
        cols.append(
            bucket_col_offset_n("embedding", EMB_DIM, off, _ADAPT_MAX_BITS).alias(
                f"hof{t}"
            )
        )
        cols.append(
            F.expr(
                bucket_sql_offset_n("embedding", EMB_DIM, True, off, _ADAPT_MAX_BITS)
            ).alias(f"unr{t}")
        )
    spark_rows = {
        r.vec_id: r for r in df.select("vec_id", *cols).collect()
    }
    for r in spark_rows.values():
        for t in range(len(_EMB_LSH_OFFSETS)):
            assert r[f"hof{t}"] == r[f"unr{t}"], (r.vec_id, t, r)


def test_sql_text_bucket_keys_match_column_form(spark):
    """r13: the production signature builds moved from lambda-Column HOF
    construction (bucket_col_offset_n — hundreds of py4j round trips per
    plane, 5-10 s of driver time per query build) to the SQL-TEXT twin
    (bucket_expr_offset_n — one JVM parse). Both must resolve to the same
    zip_with + aggregate expression; this pins value-equality on the same
    adversarial vectors as the oracle-identity test above, for every
    registered hash-table offset family at full width."""
    import struct

    from pyspark.sql import functions as F

    from pg2parquet_spark.operators.dedup import (
        _ADAPT_MAX_BITS,
        _EMB_LSH_OFFSETS,
        _EMB_RECALL_OFFSETS,
    )
    from pg2parquet_spark.operators.similarity import (
        EMB_DIM,
        bucket_col_offset_n,
        bucket_expr_offset_n,
        bucket_sql_offset_n,
    )

    denorm = struct.unpack("f", struct.pack("I", 1))[0]
    specials = [0.0, -0.0, denorm, -denorm, 1e30, -1e30, 1e-30, 3.14159, -2.5]
    vecs = []
    for s in range(12):
        v = [specials[(s * 7 + i) % len(specials)] for i in range(EMB_DIM)]
        if s % 3 == 0:
            v[1] = -v[0]
        if s % 4 == 0:
            v = [0.0 if i % 2 else -0.0 for i in range(EMB_DIM)]
        vecs.append((s, v))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    offsets = sorted(set(_EMB_LSH_OFFSETS) | set(_EMB_RECALL_OFFSETS))
    cols = []
    for t, off in enumerate(offsets):
        cols.append(
            bucket_col_offset_n("embedding", EMB_DIM, off, _ADAPT_MAX_BITS).alias(
                f"col{t}"
            )
        )
        cols.append(
            F.expr(
                bucket_expr_offset_n("embedding", EMB_DIM, off, _ADAPT_MAX_BITS)
            ).alias(f"txt{t}")
        )
    spark_rows = {r["vec_id"]: r for r in df.select("vec_id", *cols).collect()}
    for r in spark_rows.values():
        for t in range(len(offsets)):
            assert r[f"col{t}"] == r[f"txt{t}"], (t, r)

    # cross-engine arm: DuckDB evaluates the same unrolled strings on the
    # same float32 values — the actual oracle path, now on adversarial data
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE v (vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO v VALUES (?, ?)", [(s, vec) for s, vec in vecs]
    )
    keys = ", ".join(
        f"{bucket_sql_offset_n('embedding', EMB_DIM, False, off, _ADAPT_MAX_BITS)} AS k{t}"
        for t, off in enumerate(offsets)
    )
    for vid, *ks in con.execute(f"SELECT vec_id, {keys} FROM v").fetchall():
        for t, k in enumerate(ks):
            assert k == spark_rows[vid][f"txt{t}"], (vid, t, k)


def test_exact_pair_kernel_bit_identical_to_hof_form(spark, tmp_path):
    """r13: dedup_embedding_cosine_exact moved from the BNLJ self-join whose
    pairs evaluated dot_col (interpreted zip_with left-fold) to the
    broadcast-matrix mapInPandas kernel (_exact_pair_rows), whose
    dimension-ordered numpy fold claims the same left-assoc IEEE sum. This
    pins that claim on adversarial values — ±0.0, float32 denormals,
    extreme magnitudes, exact-cancellation pairs — plus a band of
    near-threshold vectors, by running BOTH forms in one session and
    requiring the identical (a_id, b_id, cos_sim) row set bit-for-bit
    (cos_sim compared by repr; the >= threshold mask must also agree, so
    pair-set equality IS part of the assertion)."""
    import struct

    from pyspark.sql import functions as F

    from pg2parquet_spark.operators.dedup import (
        _EMB_COS_THRESHOLD,
        _exact_pair_rows,
    )
    from pg2parquet_spark.operators.similarity import EMB_DIM, dot_col

    denorm = struct.unpack("f", struct.pack("I", 1))[0]
    specials = [0.0, -0.0, denorm, -denorm, 1e3, -1e3, 1e-30, 3.14159, -2.5]
    vecs = []
    for s in range(14):
        v = [specials[(s * 7 + i) % len(specials)] for i in range(EMB_DIM)]
        if s % 3 == 0:
            v[1] = -v[0]
        if s % 4 == 0:
            v = [0.0 if i % 2 else -0.0 for i in range(EMB_DIM)]
        vecs.append((s, v))
    # near-threshold band: unit-ish pairs whose dot lands around 0.4 so the
    # >= mask exercises both sides of the cutoff on non-trivial sums
    import math

    for s in range(14, 22):
        base = [math.sin(0.1 * s + 0.07 * i) / 8.0 for i in range(EMB_DIM)]
        vecs.append((s, [float(struct.unpack("f", struct.pack("f", x))[0]) for x in base]))
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, v, i % 3) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    kernel = {
        (r.a_id, r.b_id): repr(r.cos_sim)
        for r in _exact_pair_rows(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    hof = {
        (r.a_id, r.b_id): repr(r.cos_sim)
        for r in (
            a.join(b, F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", dot_col("a_emb", "b_emb").alias("cos_sim"))
            .filter(F.col("cos_sim") >= _EMB_COS_THRESHOLD)
        ).collect()
    }
    assert kernel.keys() == hof.keys()
    assert len(kernel) > 0, "threshold never crossed — vacuous comparison"
    for k in kernel:
        assert kernel[k] == hof[k], (k, kernel[k], hof[k])
