"""NULL-group-key parity sentinels: query vs DuckDB oracle on the
hostile fixture (sf0.001 with NULLs injected into every GROUP-BY-able
key column — see oracle_harness.build_hostile_fixture).

The driver's fixtures carry zero NULL keys, so an engine/oracle
disagreement on NULL-key semantics stays green for rounds: Spark's
concat() nulls a whole rendered line where DuckDB's concat skips the
NULL argument (different synthesized corpora), equi-joins drop NULL
keys one side stitched around and the other didn't, ascending sorts
place NULL first on Spark and last on DuckDB (vote tie-breaks). All
three classes were found live in r8 — 10 of 169 oracle-bearing
queries diverged on this fixture before the corpus-completeness
predicate (ingest.CORPUS_COMPLETE_SQL), the null-safe HLL audit
joins, and knn's labeled-voters filter. This test pins exactly those
previously-red names plus the group-by sketch pair; the FULL registry
replay on the same fixture is `python scripts/driver_replica.py
--hostile` (run per round, recorded in PARITY.md).
"""

from __future__ import annotations

import pytest

from log2ck_spark.queries import ORACLES, QUERIES, load_all
from tests.oracle_harness import build_hostile_fixture, compare, run_oracle

load_all()

# 13 sentinels = the 10 names RED on this fixture before the r8 fixes
# (parse_monolog/accesslog/logfmt, filter_valid, enrich_constants,
# callback_transform, ingest_text_lines, ingest_tail_snapshot,
# sink_table, knn_classify) + raw_passthrough (never red, but its
# corpus and oracle carry the same completeness predicate, so it
# changed with them) + the two HLL consumers whose audit joins went
# null-safe (approx_distinct, sketch_hll) — every class represented.
SENTINELS = (
    "parse_monolog",
    "parse_accesslog",
    "parse_logfmt",
    "filter_valid",
    "enrich_constants",
    "callback_transform",
    "raw_passthrough",
    "ingest_text_lines",
    "ingest_tail_snapshot",
    "sink_table",
    "knn_classify",
    "approx_distinct",
    "sketch_hll",
)


@pytest.fixture(scope="module")
def hostile_dir():
    return build_hostile_fixture()


@pytest.mark.parametrize("name", SENTINELS)
def test_query_matches_oracle_on_null_keys(spark, hostile_dir, name):
    problems = compare(
        QUERIES[name](spark, hostile_dir),
        run_oracle(ORACLES[name], hostile_dir),
    )
    assert problems == [], (name, problems)


# --------------------------------------------------------------------------
# Duplicate-sort-key (ties) parity sentinels — the second hostile
# dimension. The r8 stream_session_window defect was this class: an
# oracle ordering a running SUM by ts alone while the Spark side used
# (ts, event_id) — invisible while every fixture ts was distinct. On
# build_ties_fixture, timestamp/value/price/text/vector collisions are
# the norm, so any query/oracle pair whose output depends on tie order
# without a shared total tiebreak diverges. The FULL registry replay
# is `python scripts/driver_replica.py --ties` (169/169 green on first
# run, r9); these sentinels pin the most tie-exposed op families.
# --------------------------------------------------------------------------

TIES_SENTINELS = (
    "stream_session_window",  # the r8 defect's own query
    "sessionize_gap",         # gap sessions over tied ts runs
    "window_lag",             # LAG over a now-non-unique order key
    "window_rank",            # rank/dense_rank tie semantics
    "window_ntile",           # ntile bucket boundaries under ties
    "topk_order_limit",       # LIMIT straddling tied keys
    "agg_latest_by_key",      # "latest" among tied timestamps
    "similarity_topk",        # cosine top-k over duplicate vectors
    "dedup_exact",            # representative pick among 125 dup texts
    "resample_ffill",         # forward-fill over collapsed ts grid
)


@pytest.fixture(scope="module")
def ties_dir():
    from tests.oracle_harness import build_ties_fixture

    return build_ties_fixture()


@pytest.mark.parametrize("name", TIES_SENTINELS)
def test_query_matches_oracle_on_tied_keys(spark, ties_dir, name):
    problems = compare(
        QUERIES[name](spark, ties_dir),
        run_oracle(ORACLES[name], ties_dir),
    )
    assert problems == [], (name, problems)


def test_ties_gate_detects_a_seeded_tiebreak_divergence(spark, ties_dir):
    """Prove the gate is not vacuous: a deliberately tie-broken-
    differently pair (Spark picks the max event_id per tied ts tick,
    the 'oracle' picks the min) MUST be flagged by compare() on this
    fixture — if it is not, the fixture has stopped manufacturing
    ties and every sentinel above is passing for the wrong reason."""
    from pyspark.sql import functions as F

    from log2ck_spark.io import tbl

    ev = tbl(spark, ties_dir, "events")
    spark_side = ev.groupBy("ts").agg(F.max("event_id").alias("pick"))
    oracle = run_oracle(
        "SELECT ts, MIN(event_id) AS pick FROM events GROUP BY ts",
        ties_dir,
    )
    problems = compare(spark_side, oracle)
    assert problems, "ties fixture no longer produces tied keys"


# --------------------------------------------------------------------------
# Unicode (multibyte/multi-script) parity sentinels — the third
# hostile dimension. First run of `driver_replica.py --unicode` (r9)
# found 8 live divergences: oracles counting codepoints where the
# Spark side operates on octets, oracles assuming every complete
# event row renders into a PARSEABLE monolog line (Java regex \w —
# like the reference's PCRE \w — is ASCII-only, so a multibyte
# event_type dead-letters), and DuckDB's array_to_string([]) = NULL
# vs Spark's array_join([]) = ''. These sentinels pin the previously
# red names; the full registry replay is
# `python scripts/driver_replica.py --unicode`.
# --------------------------------------------------------------------------

UNICODE_SENTINELS = (
    "parse_monolog",
    "filter_valid",
    "enrich_constants",
    "callback_transform",
    "sink_table",
    "multimodal_meta",
    "multimodal_frame_sample",
    "multimodal_resize_fake",
    "text_winnow_fingerprint",
    # never red, but the most unicode-exposed textops: codepoint
    # counting and \w-class tokenization over CJK/emoji/RTL text
    "text_token_count",
    "text_lang_id",
    "dedup_ngram_jaccard",
)


@pytest.fixture(scope="module")
def unicode_dir():
    from tests.oracle_harness import build_unicode_fixture

    return build_unicode_fixture()


@pytest.mark.parametrize("name", UNICODE_SENTINELS)
def test_query_matches_oracle_on_unicode_text(spark, unicode_dir, name):
    problems = compare(
        QUERIES[name](spark, unicode_dir),
        run_oracle(ORACLES[name], unicode_dir),
    )
    assert problems == [], (name, problems)


def test_unicode_gate_detects_a_seeded_codepoint_divergence(spark, unicode_dir):
    """Prove the gate is not vacuous: a Spark side measuring OCTETS
    against an 'oracle' measuring CODEPOINTS must be flagged on this
    fixture — if not, the fixture has stopped carrying multibyte text
    and every sentinel above passes for the wrong reason."""
    from pyspark.sql import functions as F

    from log2ck_spark.io import tbl

    docs = tbl(spark, unicode_dir, "documents")
    spark_side = docs.select(
        "doc_id", F.octet_length("text").alias("n")
    )
    oracle = run_oracle(
        "SELECT doc_id, length(text) AS n FROM documents", unicode_dir
    )
    problems = compare(spark_side, oracle)
    assert problems, "unicode fixture no longer carries multibyte text"


# --------------------------------------------------------------------------
# Malformed-JSON (props) parity sentinels — the fourth hostile
# dimension. First run of `driver_replica.py --badjson` (r9) found 11
# names red: DuckDB's json_extract_string RAISES on malformed JSON
# where Spark's get_json_object returns NULL (oracles now TRY_CAST to
# JSON first); ANSI CAST('oops' AS INT) kills the query on BOTH
# engines where the intent is NULL (both sides now try_cast); empty
# props render a double space the monolog ([^ ]+) context group
# cannot match, so the line dead-letters (CORPUS_PARSEABLE_SQL now
# requires a non-empty space-stripped props); and the per-row
# callback crashed on valid-JSON non-object roots ('[3, 4]'.get —
# AttributeError now caught). Full replay:
# `python scripts/driver_replica.py --badjson`.
# --------------------------------------------------------------------------

BADJSON_SENTINELS = (
    "json_extract",
    "from_json_struct",
    "agg_map_sum",
    "ingest_jsonl",
    "ingest_csv",
    "ingest_orc",
    "callback_transform",
    "parse_monolog",
    "filter_valid",
    "sink_table",
)


@pytest.fixture(scope="module")
def badjson_dir():
    from tests.oracle_harness import build_badjson_fixture

    return build_badjson_fixture()


@pytest.mark.parametrize("name", BADJSON_SENTINELS)
def test_query_matches_oracle_on_malformed_props(spark, badjson_dir, name):
    problems = compare(
        QUERIES[name](spark, badjson_dir),
        run_oracle(ORACLES[name], badjson_dir),
    )
    assert problems == [], (name, problems)


def test_badjson_gate_detects_a_seeded_strictness_divergence(spark, badjson_dir):
    """Prove the gate is not vacuous: an 'oracle' that json-parses
    props STRICTLY (no TRY_CAST guard) must ERR or diverge on this
    fixture — if it runs clean, the fixture has stopped carrying
    malformed props and every sentinel above passes for the wrong
    reason."""
    import duckdb as _duckdb

    import pytest as _pytest

    with _pytest.raises(_duckdb.Error):
        run_oracle(
            "SELECT json_extract_string(props, '$.k') AS k FROM events",
            badjson_dir,
        )


# --------------------------------------------------------------------------
# Documented OUT-OF-CONTRACT corners (PARITY.md) — pinned as explicit
# expected-divergence assertions so a refactor can't silently
# un-document them, and so we NOTICE if the engines ever converge
# (at which point the contract can widen and these tests flip).
# --------------------------------------------------------------------------


def test_full_casing_corner_is_still_out_of_contract(spark):
    """PARITY.md corner 1: Java's toUpperCase does FULL case mapping
    ('ß' → 'SS', two chars, \\w+-parseable) while DuckDB's upper gives
    the single capital 'ẞ' — so CORPUS_PARSEABLE_SQL would classify a
    'ß' event_type dead where the engine parses it. The contract is
    that no generator or hostile fixture emits a full-casing char; if
    this assertion ever fails (the engines converged), widen the
    contract instead and delete this pin."""
    import duckdb as _duckdb

    from pyspark.sql import functions as F

    spark_up = (
        spark.range(1).select(F.upper(F.lit("ß")).alias("u")).collect()[0]["u"]
    )
    duck_up = _duckdb.sql("SELECT upper('ß')").fetchone()[0]
    assert spark_up == "SS"  # Java full casemap, matches monolog \w+
    assert duck_up == "ẞ"  # single-codepoint capital, NOT \w-parseable
    assert spark_up != duck_up  # the divergence the contract excludes


def test_decimal_string_json_k_corner_is_still_out_of_contract(spark):
    """PARITY.md corner 2: a decimal-STRING k ('{"k": "3.7"}') —
    Spark's try_cast(string→int) yields NULL while DuckDB's TRY_CAST
    rounds to 4. The contract is that the generators only emit JSON
    integer k values; this pins the divergence so it stays documented
    rather than silently wrong."""
    import duckdb as _duckdb

    from pyspark.sql import functions as F

    spark_k = (
        spark.range(1)
        .select(
            F.get_json_object(F.lit('{"k": "3.7"}'), "$.k")
            .try_cast("int")
            .alias("k")
        )
        .collect()[0]["k"]
    )
    duck_k = _duckdb.sql(
        "SELECT TRY_CAST(json_extract_string('{\"k\": \"3.7\"}', '$.k')"
        " AS INTEGER)"
    ).fetchone()[0]
    assert spark_k is None  # Spark: non-integral string → NULL
    assert duck_k == 4  # DuckDB: parses and ROUNDS
    assert spark_k != duck_k


def test_negative_zero_group_key_corner_is_still_out_of_contract(spark):
    """PARITY.md corner 3 (r10, documented with the --nonfinite gate):
    -0.0 as a GROUP BY key. Both engines agree -0.0 and +0.0 are ONE
    group (the semantics), but the rendered REPRESENTATIVE's sign bit
    is unstable: DuckDB surfaces the first-seen zero (order-dependent)
    and Spark's surfaced sign varies with the aggregate's physical
    path (observed +0.0 from one session/plan and -0.0 from another in
    the same build — the SPARK-32110 key normalization is not a
    rendering guarantee). repr(-0.0) != repr(0.0), so the canonical
    value comparison would flag pure noise. The contract is that no
    generator or hostile fixture injects -0.0; this pin asserts the
    STABLE facts only — semantic one-group agreement, and that the
    two renderings really do differ at the comparison layer."""
    import duckdb as _duckdb

    spark_groups = spark.sql(
        "SELECT v FROM VALUES (double('-0.0')), (double('0.0')) t(v)"
        " GROUP BY v"
    ).collect()
    duck_groups = _duckdb.sql(
        "SELECT v FROM (VALUES (-0.0::DOUBLE), (0.0::DOUBLE)) t(v)"
        " GROUP BY v"
    ).fetchall()
    assert len(spark_groups) == 1  # one group on both engines:
    assert len(duck_groups) == 1  # the SEMANTICS agree
    # the comparison layer, however, distinguishes the two renderings
    # — this inequality is WHY the fixture must not inject -0.0
    assert repr(-0.0) != repr(0.0)


# --------------------------------------------------------------------------
# Extreme-magnitude (bignum) sentinels — the r10 decimal→TRY_CAST
# migration's end-to-end gate. First full run found 12 live
# divergences; the sentinels below are the red set: DuckDB's DIRECT
# double→decimal conversion multiplies by 10^scale in double space
# (999999999999.5 → 999999999999.500032 past ~9e9), its direct
# decimal→double and ROUND(double, 6) land 1 ulp off Spark past ~16
# significant digits, double accumulation in a window total drifts
# visibly at 1e12 (seasonal_hour_profile), and the accesslog oracle
# counted negative-bytes lines the (\d+) grammar dead-letters. The
# full-registry replay is `python scripts/driver_replica.py --bignum`.
# --------------------------------------------------------------------------

BIGNUM_SENTINELS = (
    "agg_group_count",
    "agg_time_bucket",
    "json_extract",
    "parse_accesslog",
    "scan_partition_prune",
    "seasonal_hour_profile",
    "stats_moments",
    "stream_static_join",
    "topk_order_limit",
    "window_running",
    "window_time_range",
    "tpch_q1_pricing_summary",  # lineitem-side injection coverage
)


@pytest.fixture(scope="module")
def bignum_dir():
    from tests.oracle_harness import build_bignum_fixture

    return build_bignum_fixture()


@pytest.mark.parametrize("name", BIGNUM_SENTINELS)
def test_query_matches_oracle_on_extreme_magnitudes(spark, bignum_dir, name):
    problems = compare(
        QUERIES[name](spark, bignum_dir),
        run_oracle(ORACLES[name], bignum_dir),
    )
    assert problems == [], (name, problems)


def test_bignum_gate_detects_a_seeded_conversion_divergence(spark, bignum_dir):
    """Prove the gate is not vacuous: an 'oracle' using DuckDB's
    DIRECT double→decimal conversion (the pre-r10 spelling) must
    diverge on this fixture's 999999999999.5 boundary rows — if it
    matches, the fixture stopped carrying boundary magnitudes and the
    sentinels above pass for the wrong reason."""
    import duckdb as _duckdb

    direct = _duckdb.sql(
        "SELECT CAST(TRY_CAST(value AS DECIMAL(18,6)) AS VARCHAR)"
        f" FROM read_parquet('{bignum_dir}/events.parquet')"
        " WHERE value = 999999999999.5 LIMIT 1"
    ).fetchone()
    assert direct is not None, "fixture lost its boundary-magnitude rows"
    assert direct[0] != "999999999999.500000", (
        "DuckDB's direct double→decimal became exact — the VARCHAR "
        "route in the oracles can be simplified away; update "
        "functions/numeric.py and retire this canary deliberately"
    )


# --------------------------------------------------------------------------
# Hostile-timestamp (timewarp) sentinels — the r10 epoch-second
# truncation contract's gate. First full run found 8 live divergences
# sharing one root cause: Spark's unix_timestamp TRUNCATES the
# microsecond tick toward zero (1969-12-31 23:59:59.999999 → 0) while
# the oracles' floor(date_part('epoch', ts)) FLOORS (→ -1) —
# identical for every epoch >= 0, one second apart for every pre-1970
# fractional instant. The contract (PARITY.md "epoch-second
# truncation") follows the engine built-in; oracles mirror it with
# numeric.oracle_epoch_s = (epoch_us(ts) // 1000000), BIGINT
# end-to-end (DuckDB's // truncates). Two secondary defects fixed in
# the same sweep: zorder_layout's signed % put pre-1970 hour indexes
# in NEGATIVE z-cells (now pmod, both engines), and runs_encode
# computed its change flags and its running run-ids under DIFFERENT
# orderings (full-precision ts vs truncated ts_s — now true event
# order on both sides). agg_latest_by_key carried the floor spelling
# latently (its max-struct never straddled 1970 on this fixture).
# The full-registry replay is `python scripts/driver_replica.py
# --timewarp`.
# --------------------------------------------------------------------------

TIMEWARP_SENTINELS = (
    "agg_latest_by_key",
    "iat_stats",
    "rate_counter",
    "runs_encode",
    "sessionize_gap",
    "stream_stream_join",
    "time_weighted_avg",
    "window_time_range",
    "zorder_layout",
)


@pytest.fixture(scope="module")
def timewarp_dir():
    from tests.oracle_harness import build_timewarp_fixture

    return build_timewarp_fixture()


@pytest.mark.parametrize("name", TIMEWARP_SENTINELS)
def test_query_matches_oracle_on_hostile_timestamps(spark, timewarp_dir, name):
    problems = compare(
        QUERIES[name](spark, timewarp_dir),
        run_oracle(ORACLES[name], timewarp_dir),
    )
    assert problems == [], (name, problems)


def test_timewarp_gate_detects_a_seeded_floor_divergence(timewarp_dir):
    """Prove the gate is not vacuous: the pre-r10 floor spelling must
    disagree with the truncation contract on this fixture's pre-1970
    fractional instants — if it matches everywhere, the fixture has
    stopped carrying them and the sentinels above pass for the wrong
    reason."""
    import duckdb as _duckdb

    n = _duckdb.sql(
        "SELECT count(*) FROM"
        f" read_parquet('{timewarp_dir}/events.parquet')"
        " WHERE CAST(floor(date_part('epoch', ts)) AS BIGINT)"
        "       <> (epoch_us(ts) // 1000000)"
    ).fetchone()[0]
    assert n > 0, "fixture lost its pre-1970 fractional-second rows"


# --------------------------------------------------------------------------
# NULL-measure/payload (sparse) sentinels — the complement of the
# NULL-KEY hostile gate. First full run found 9 live defects: five
# vector queries CRASHED (DuckDB's list_cosine_similarity/
# list_inner_product raise on NULL vectors; the k-means/SemDeDup
# driver samples fed None into np.array; IVF seed collection
# iterated a None) — the engine contract is now that NULL embeddings
# (failed embedding jobs) are SKIPPED, the corpus is the non-NULL
# rows, and cluster counts k derive from that filtered count on both
# engines. Two value divergences: window_ntile ordered ASC over a
# now-nullable measure (Spark default NULLS FIRST vs DuckDB default
# NULLS LAST — the oracle now spells NULLS FIRST), and
# sketch_quantile_hist grew a NULL histogram bin (a quantile
# estimator ignores NULL observations — both sides now filter).
# The full-registry replay is `python scripts/driver_replica.py
# --sparse`.
# --------------------------------------------------------------------------

SPARSE_SENTINELS = (
    "dedup_embedding_lsh",
    "dedup_semantic",
    "embedding_kmeans",
    "knn_classify",
    "similarity_ivf",
    "similarity_lsh",
    "similarity_topk",
    "sketch_quantile_hist",
    "window_ntile",
)


@pytest.fixture(scope="module")
def sparse_dir():
    from tests.oracle_harness import build_sparse_fixture

    return build_sparse_fixture()


@pytest.mark.parametrize("name", SPARSE_SENTINELS)
def test_query_matches_oracle_on_null_measures(spark, sparse_dir, name):
    problems = compare(
        QUERIES[name](spark, sparse_dir),
        run_oracle(ORACLES[name], sparse_dir),
    )
    assert problems == [], (name, problems)


def test_sparse_gate_detects_seeded_null_payloads(sparse_dir):
    """Prove the gate is not vacuous: the fixture must actually carry
    NULL embeddings, NULL measure values, and NULL document texts —
    and DuckDB must still raise on a NULL-vector similarity (the crash
    the engine-side filter exists to avoid). If the raise ever stops,
    the oracles' IS NOT NULL guards may be simplifiable; retire this
    canary deliberately."""
    import duckdb as _duckdb

    import pytest as _pytest

    nulls = _duckdb.sql(
        "SELECT"
        f" (SELECT count(*) FROM read_parquet('{sparse_dir}/embeddings.parquet')"
        "   WHERE embedding IS NULL),"
        f" (SELECT count(*) FROM read_parquet('{sparse_dir}/events.parquet')"
        "   WHERE value IS NULL),"
        f" (SELECT count(*) FROM read_parquet('{sparse_dir}/documents.parquet')"
        "   WHERE text IS NULL AND n_chars IS NULL)"
    ).fetchone()
    assert all(n > 0 for n in nulls), f"fixture lost its NULLs: {nulls}"
    with _pytest.raises(_duckdb.Error):
        _duckdb.sql(
            "SELECT list_cosine_similarity(CAST(embedding AS DOUBLE[]),"
            "                              CAST(embedding AS DOUBLE[]))"
            f" FROM read_parquet('{sparse_dir}/embeddings.parquet')"
        ).fetchall()


# --------------------------------------------------------------------------
# Empty/whitespace-string (blank) sentinels — the class BETWEEN
# present and NULL. First full run found 3 live defects, all in the
# connector/parse family (the textops already handled zero-length
# text): the CSV writer's DEFAULT options silently trimmed
# whitespace-only payloads to '' and the default nullValue=""
# conflated '' with NULL (the connector now writes faithfully with a
# \N sentinel); the accesslog renderer embedded a space-bearing
# event_type into a URL path its own (\S+) grammar then truncated
# (the corpus now excludes grammar-unrepresentable rows on both
# engines — SPACE_FREE_SQL, the CORPUS_PARSEABLE precedent); and a
# doubled space in a logfmt line produced duplicate '' map keys that
# RAISE under Spark's default dedup policy (the parser now collapses
# space runs before splitting). The full-registry replay is `python
# scripts/driver_replica.py --blank`.
# --------------------------------------------------------------------------

BLANK_SENTINELS = (
    "ingest_csv",
    "parse_accesslog",
    "parse_logfmt",
    "text_token_count",  # zero-length docs through the token path
    "agg_group_count",  # '' group key next to real ones
)


@pytest.fixture(scope="module")
def blank_dir():
    from tests.oracle_harness import build_blank_fixture

    return build_blank_fixture()


@pytest.mark.parametrize("name", BLANK_SENTINELS)
def test_query_matches_oracle_on_blank_strings(spark, blank_dir, name):
    problems = compare(
        QUERIES[name](spark, blank_dir),
        run_oracle(ORACLES[name], blank_dir),
    )
    assert problems == [], (name, problems)


def test_blank_gate_detects_seeded_blank_values(blank_dir):
    """Prove the gate is not vacuous: the fixture must carry empty AND
    whitespace-only texts (with the n_chars invariant intact) and
    empty/whitespace event_type group keys."""
    import duckdb as _duckdb

    counts = _duckdb.sql(
        "SELECT"
        f" (SELECT count(*) FROM read_parquet('{blank_dir}/documents.parquet')"
        "   WHERE text = '' AND n_chars = 0),"
        # regexp \s+, not trim(): DuckDB's trim strips only SPACES,
        # and the whitespace archetype deliberately carries tab+newline
        f" (SELECT count(*) FROM read_parquet('{blank_dir}/documents.parquet')"
        "   WHERE text <> '' AND regexp_matches(text, '^\\s+$')"
        "     AND n_chars = length(text)),"
        f" (SELECT count(*) FROM read_parquet('{blank_dir}/events.parquet')"
        "   WHERE event_type = ''),"
        f" (SELECT count(*) FROM read_parquet('{blank_dir}/events.parquet')"
        "   WHERE event_type = '  ')"
    ).fetchone()
    assert all(n > 0 for n in counts), f"fixture lost its blanks: {counts}"


# --------------------------------------------------------------------------
# Non-finite (NaN/±Inf measure) sentinels — the ninth hostile
# dimension. First full run found 14 live defects in five classes:
# six oracles CRASHED on DuckDB's CAST(nan AS BIGINT/INT) (histogram
# and bucket arithmetic in sketch_quantile_hist/drift_psi/
# rate_counter, vector digests in embedding_normalize/quantize, and
# the accesslog renderer) — and DuckDB's DIRECT TRY_CAST(nan AS
# DECIMAL) raises too, a TRY_CAST hole the exact-aggregate chain
# only dodges via its VARCHAR hop; the int64 fixed-point k-means
# OVERFLOWED Spark-side under ANSI; the five cosine-kernel queries
# diverged on NaN similarity ordering; exact percentiles diverged
# (DuckDB quantile_cont counts NaN as the LARGEST observation, Spark
# percentile excludes it); and the EWMA recurrence walked NaN into
# every downstream z. Contracts now: vectors must be finite_vec
# (non-NULL + all components finite) on both engines; order
# statistics/bins/counters define observations as FINITE values
# (functions.numeric.finite ≡ SQL isfinite); the accesslog corpus
# excludes non-finite values at render time (Spark floor SATURATES
# nan→0 into silently parseable digits — the worst failure mode).
# The full-registry replay is `python scripts/driver_replica.py
# --nonfinite`.
# --------------------------------------------------------------------------

NONFINITE_SENTINELS = (
    "anomaly_ewma",
    "dedup_embedding",
    "drift_psi",
    "embedding_kmeans",
    "embedding_normalize",
    "embedding_quantize",
    "knn_classify",
    "parse_accesslog",
    "percentile_agg",
    "rate_counter",
    "similarity_ivf",
    "similarity_lsh",
    "similarity_topk",
    "sketch_quantile_hist",
)


@pytest.fixture(scope="module")
def nonfinite_dir():
    from tests.oracle_harness import build_nonfinite_fixture

    return build_nonfinite_fixture()


@pytest.mark.parametrize("name", NONFINITE_SENTINELS)
def test_query_matches_oracle_on_nonfinite_measures(spark, nonfinite_dir, name):
    problems = compare(
        QUERIES[name](spark, nonfinite_dir),
        run_oracle(ORACLES[name], nonfinite_dir),
    )
    assert problems == [], (name, problems)


def test_nonfinite_gate_detects_seeded_nonfinite_values(nonfinite_dir):
    """Prove the gate is not vacuous: the fixture must carry NaN and
    ±Inf measures and NaN/Inf embedding COMPONENTS — and DuckDB must
    still raise on both the direct TRY_CAST(nan AS DECIMAL) (the
    TRY_CAST hole the exact-aggregate VARCHAR hop dodges) and
    CAST(nan AS BIGINT) (the crash every isfinite guard exists to
    avoid). If either raise ever stops, those guards may be
    simplifiable; retire this canary deliberately."""
    import duckdb as _duckdb

    import pytest as _pytest

    counts = _duckdb.sql(
        "SELECT"
        f" (SELECT count(*) FROM read_parquet('{nonfinite_dir}/events.parquet')"
        "   WHERE isnan(value)),"
        f" (SELECT count(*) FROM read_parquet('{nonfinite_dir}/events.parquet')"
        "   WHERE value = 'inf'::DOUBLE OR value = '-inf'::DOUBLE),"
        f" (SELECT count(*) FROM read_parquet('{nonfinite_dir}/embeddings.parquet')"
        "   WHERE len(list_filter(embedding, x -> NOT isfinite(x))) > 0)"
    ).fetchone()
    assert all(n > 0 for n in counts), f"fixture lost its non-finites: {counts}"
    with _pytest.raises(_duckdb.Error):
        _duckdb.sql("SELECT TRY_CAST('nan'::DOUBLE AS DECIMAL(18,6))").fetchall()
    with _pytest.raises(_duckdb.Error):
        _duckdb.sql("SELECT CAST('nan'::DOUBLE AS BIGINT)").fetchall()


# --------------------------------------------------------------------------
# Duplicate-heavy corpus (dupes) sentinels — the tenth hostile
# dimension: 40% of documents collapsed onto ONE text plus a
# near-duplicate satellite class (5-shingle Jaccard ≈ 0.9 — LSH must
# merge it) and a token-PERMUTED class (same token set, near-zero
# shingle Jaccard — near-dup queries must NOT merge it), 40%/14%
# duplicate embedding vectors, 25% of events collapsed onto one
# constant non-key row. First full run: PASS 169/169 — no divergence;
# the r8 ties tie-break contracts and the r10 BUCKET_CAP design
# already covered the duplicate-mass semantics. These sentinels keep
# the most duplicate-exposed names pinned against regression, and the
# canary keeps the fixture honest (classes present, and sized UNDER
# BUCKET_CAP so capped pair expansion remains exactly the full i<j
# expansion and the all-pairs oracles stay comparable — above-cap
# behavior is pinned in tests/test_dedup_scale.py). The full-registry
# replay is `python scripts/driver_replica.py --dupes`.
# --------------------------------------------------------------------------

DUPES_SENTINELS = (
    "dedup_exact",          # 200-copy class, min-id survivor
    "dedup_fingerprint",    # permuted class MUST collapse here
    "dedup_minhash_lsh",    # every band of the class in one bucket
    "dedup_simhash",        # every chunk of the class in one bucket
    "dedup_ngram_jaccard",  # PPJoin prefixes with ubiquitous shingles
    "dedup_clusters",       # one giant connected component
    "similarity_topk",      # top-k saturated with cos = 1.0 ties
    "embedding_kmeans",     # 40% point-mass degeneracy in training
    "approx_distinct",      # HLL near-tiny true cardinality
    "stream_dedup",         # 25% full-row-duplicate events
)


@pytest.fixture(scope="module")
def dupes_dir():
    from tests.oracle_harness import build_dupes_fixture

    return build_dupes_fixture()


@pytest.mark.parametrize("name", DUPES_SENTINELS)
def test_query_matches_oracle_on_duplicate_heavy_corpus(spark, dupes_dir, name):
    problems = compare(
        QUERIES[name](spark, dupes_dir),
        run_oracle(ORACLES[name], dupes_dir),
    )
    assert problems == [], (name, problems)


def test_dupes_gate_fixture_classes_present_and_under_cap(dupes_dir):
    """Prove the gate is not vacuous AND not self-inconsistent: the
    dominant text class, the near-dup satellite, the permuted class,
    the duplicate embedding classes, and the constant event row must
    all exist — and the LARGEST duplicate class must stay under
    BUCKET_CAP, because at/under the cap the capped pair expansion is
    exactly the full i<j expansion (all-pairs oracles comparable);
    growing the fixture past the cap would silently turn every
    pair-emitting dedup oracle row red."""
    import duckdb as _duckdb

    from log2ck_spark.queries.dedup import BUCKET_CAP

    top_text, near, emb_top, const_events = _duckdb.sql(
        "SELECT"
        f" (SELECT max(c) FROM (SELECT count(*) AS c FROM"
        f"   read_parquet('{dupes_dir}/documents.parquet') GROUP BY text)),"
        f" (SELECT count(*) FROM read_parquet('{dupes_dir}/documents.parquet')"
        "   WHERE text LIKE '%crawler appended tracking suffix'),"
        f" (SELECT max(c) FROM (SELECT count(*) AS c FROM"
        f"   read_parquet('{dupes_dir}/embeddings.parquet')"
        "    GROUP BY embedding::VARCHAR)),"
        f" (SELECT max(c) FROM (SELECT count(*) AS c FROM"
        f"   read_parquet('{dupes_dir}/events.parquet')"
        "    GROUP BY ts, user_id, event_type, value, props))"
    ).fetchone()
    assert top_text >= 100, f"dominant text class shrank: {top_text}"
    assert near > 0, "near-dup satellite class missing"
    assert emb_top >= 100, f"dominant embedding class shrank: {emb_top}"
    assert const_events >= 100, f"constant event class shrank: {const_events}"
    assert top_text < BUCKET_CAP and emb_top < BUCKET_CAP, (
        f"duplicate class exceeds BUCKET_CAP={BUCKET_CAP}: "
        f"{top_text}, {emb_top} — pair-emitting oracles would diverge"
    )


# --------------------------------------------------------------------------
# Outlier-size (jumbo) sentinels — the eleventh hostile dimension:
# a ~180 KB doc of 20k distinct words, a single unbroken ~99 KB
# token, 'spam' × 30,000, and a 50 KB props value the monolog
# renderer turns into a 50 KB log line. First full run: 168/169 —
# ONE live defect, and not a size bug at all: agg_map_sum parsed
# props as map<string,int>, so a metric bag with one non-integer
# value (the 50 KB pad string riding next to k) NULLED THE WHOLE MAP
# on Spark — silently dropping the row's valid counters — while the
# oracle's per-key extraction kept them. The parse is now
# map<string,string> + per-entry try_cast (drop the entry, not the
# bag). Everything else held at outlier size: tokenizer/shingle
# kernels on 20k-element arrays, regex over 100 KB values, the parse
# grammars on mega-lines, repetition ratios at the extreme. The
# full-registry replay is `python scripts/driver_replica.py --jumbo`.
# --------------------------------------------------------------------------

JUMBO_SENTINELS = (
    "agg_map_sum",            # the red one: mixed-type metric bag
    "json_extract",           # 50 KB props through get_json_object
    "parse_monolog",          # 50 KB rendered log line
    "text_token_count",       # 30k-token and 1-token outlier docs
    "text_repetition_stats",  # maximal repetition ratios
    "token_count_bpe",        # BPE-ish regex over a 99 KB token
    "text_lang_id",           # trigram heuristics on megastrings
    "dedup_ngram_jaccard",    # 20k-element shingle arrays, PPJoin
    "text_winnow_fingerprint",  # positional grams over 30k tokens
)


@pytest.fixture(scope="module")
def jumbo_dir():
    from tests.oracle_harness import build_jumbo_fixture

    return build_jumbo_fixture()


@pytest.mark.parametrize("name", JUMBO_SENTINELS)
def test_query_matches_oracle_on_outlier_sizes(spark, jumbo_dir, name):
    problems = compare(
        QUERIES[name](spark, jumbo_dir),
        run_oracle(ORACLES[name], jumbo_dir),
    )
    assert problems == [], (name, problems)


def test_jumbo_gate_fixture_outliers_present(jumbo_dir):
    """Prove the gate is not vacuous: the three outlier documents and
    the mega-props events must exist at their designed sizes, and the
    mixed-type metric bag (int k + string pad) that found the
    agg_map_sum defect must still be mixed-type."""
    import duckdb as _duckdb

    big, one_tok, spam, mega = _duckdb.sql(
        "SELECT"
        f" (SELECT length(text) FROM read_parquet('{jumbo_dir}/documents.parquet')"
        "   WHERE doc_id = 7),"
        f" (SELECT length(text) - length(replace(text, ' ', ''))"
        f"   FROM read_parquet('{jumbo_dir}/documents.parquet')"
        "   WHERE doc_id = 13),"
        f" (SELECT len(list_distinct(string_split(text, ' ')))"
        f"   FROM read_parquet('{jumbo_dir}/documents.parquet')"
        "   WHERE doc_id = 21),"
        f" (SELECT count(*) FROM read_parquet('{jumbo_dir}/events.parquet')"
        "   WHERE length(props) > 50000"
        "     AND json_extract_string(props::JSON, 'k') = '7'"
        "     AND length(json_extract_string(props::JSON, 'pad')) = 50000)"
    ).fetchone()
    assert big > 150_000, f"doc 7 shrank: {big}"
    assert one_tok == 0, f"doc 13 gained spaces: {one_tok}"
    assert spam == 1, f"doc 21 should have ONE distinct token: {spam}"
    assert mega > 0, "mega-props mixed-type rows missing"


# --------------------------------------------------------------------------
# --empty gate (r11): zero-row tables — the day-one deployment state
# --------------------------------------------------------------------------
# Full-registry result on first run: 169/170 green; the one red was
# cube_rollup — Spark's ROLLUP (DataFrame and SQL, probed) emits NO
# rows over empty input where ANSI/DuckDB emit the grand-total n=0
# row. Contract pinned Spark-side ("observed groups only"); the
# oracle mirrors it with HAVING COUNT(*) > 0, a no-op on non-empty
# input. Sentinels: the fixed name + representatives of the
# driver-side-parameter-derivation class the gate targets (k/anchor
# derivation from corpus stats, TTL cutoff from max ts, stratified
# rates from group counts) — all proven to yield empty-and-matching,
# never a crash.

EMPTY_SENTINELS = (
    "cube_rollup",          # the red one: grand-total grouping set
    "similarity_topk",      # k derived from the (empty) corpus
    "embedding_kmeans",     # k-means init sampled from zero vectors
    "dedup_semantic",       # Voronoi cells over an empty corpus
    "ttl_expire",           # retention cutoff from max(ts) = NULL
    "sample_stratified",    # per-group rates from zero groups
    "percentile_agg",       # order statistics over nothing
    "agg_sum_audited",      # excluded/included counts at zero rows
    "heavy_hitters",        # threshold from a zero total
)


@pytest.fixture(scope="module")
def empty_dir():
    from tests.oracle_harness import build_empty_fixture

    return build_empty_fixture()


@pytest.mark.parametrize("name", EMPTY_SENTINELS)
def test_query_matches_oracle_on_empty_tables(spark, empty_dir, name):
    problems = compare(
        QUERIES[name](spark, empty_dir),
        run_oracle(ORACLES[name], empty_dir),
    )
    assert problems == [], (name, problems)


def test_empty_gate_fixture_is_truly_empty(empty_dir):
    """Prove the gate is not vacuous: every table exists, keeps its
    full column set, and holds zero rows."""
    import duckdb as _duckdb

    from log2ck_spark.io import TABLES

    con = _duckdb.connect()
    for t in TABLES:
        n, = con.execute(
            f"SELECT count(*) FROM read_parquet('{empty_dir}/{t}.parquet')"
        ).fetchone()
        assert n == 0, (t, n)
        cols = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{empty_dir}/{t}.parquet')"
        ).fetchall()
        assert len(cols) >= 2, (t, cols)


# --------------------------------------------------------------------------
# --single gate (r11): exactly one row per table — the n=1 boundary
# --------------------------------------------------------------------------
# Full-registry result on first run: PASS 170/170 — no divergence.
# The n=1 corners this gate hunts (stddev_samp NULL-vs-NaN, one-
# observation percentile/histogram interpolation, single-point
# EWMA/rate/lag kernels, joins whose matching row was cut) are all
# already normalized by the engine contracts pinned in earlier
# rounds; the gate stays as a regression tripwire for future
# statistics. Sentinels: representatives of each n=1 corner class.

SINGLE_SENTINELS = (
    "stats_moments",        # sample variance/stddev/skew at n=1
    "percentile_agg",       # order statistics over one value
    "anomaly_zscore",       # zscore needs a stddev: n=1 group
    "anomaly_ewma",         # EWMA over a single point
    "rate_counter",         # lag/reset detection with no predecessor
    "sketch_quantile_hist", # histogram bins from one observation
    "window_ntile",         # ntile over a 1-row partition
    "cube_rollup",          # rollup with exactly one observed group
    "join_dim",             # dim row cut from under the fact row
)


@pytest.fixture(scope="module")
def single_dir():
    from tests.oracle_harness import build_single_fixture

    return build_single_fixture()


@pytest.mark.parametrize("name", SINGLE_SENTINELS)
def test_query_matches_oracle_on_one_row_tables(spark, single_dir, name):
    problems = compare(
        QUERIES[name](spark, single_dir),
        run_oracle(ORACLES[name], single_dir),
    )
    assert problems == [], (name, problems)


def test_single_gate_fixture_has_exactly_one_row_per_table(single_dir):
    import duckdb as _duckdb

    from log2ck_spark.io import TABLES

    con = _duckdb.connect()
    for t in TABLES:
        n, = con.execute(
            f"SELECT count(*) FROM read_parquet('{single_dir}/{t}.parquet')"
        ).fetchone()
        assert n == 1, (t, n)


# --------------------------------------------------------------------------
# TPC-H q21 over NULL supplier keys. The oracle's EXISTS / NOT EXISTS
# compare `l2.l_suppkey <> l1.l_suppkey`, which is never true against a
# NULL, so a NULL-supplier line is neither "another supplier" on the
# order nor "another supplier that returned". The single-scan rewrite
# must drop those lines before its (orderkey, suppkey) aggregation, or
# the NULL group counts toward ns/nrs.
# --------------------------------------------------------------------------

_NULL_SUPPKEY_REWRITES = {
    # ~10% NULL l_suppkey, deterministic by (orderkey, linenumber)
    "lineitem": (
        "SELECT * REPLACE (CASE WHEN (l_orderkey * 7 + l_linenumber) % 10 = 3"
        " THEN NULL ELSE l_suppkey END AS l_suppkey) FROM {t}"
    ),
}


def test_q21_null_suppkey_is_not_another_supplier(spark, sf_dir):
    from tests.oracle_harness import _build_fixture

    d = _build_fixture("hostile_null_suppkey", _NULL_SUPPKEY_REWRITES, sf_dir)
    name = "tpch_q21_waiting_supplier"
    problems = compare(QUERIES[name](spark, d), run_oracle(ORACLES[name], d))
    assert problems == [], problems


# --------------------------------------------------------------------------
# A 63-hop duplicate chain — the shape of a page's successive edits. 64
# docs, each a 100-token window shifted 10 fresh tokens from the one
# before: neighbours share 86 of 106 distinct 5-shingles (Jaccard 0.81,
# over the 0.7 threshold), docs two apart 76 of 116 (0.66, under it),
# so the pair graph is ONE path through all 64 docs. dedup_clusters
# must label every doc with the minimum id, in a job count that does
# not grow with the path.
# --------------------------------------------------------------------------

_EDIT_CHAIN_REWRITES = {
    "documents": (
        "SELECT doc_id, text, 'en' AS lang, 'edits' AS source,"
        " length(text) AS n_chars FROM (SELECT i + 1 AS doc_id,"
        " array_to_string([concat('w', j)"
        " for j in range(10 * i, 10 * i + 100)], ' ') AS text"
        " FROM range(64) r(i))"
    ),
}


@pytest.fixture(scope="module")
def edit_chain_dir(sf_dir):
    from tests.oracle_harness import _build_fixture

    return _build_fixture("hostile_edit_chain", _EDIT_CHAIN_REWRITES, sf_dir)


def _count_jobs(spark, run):
    """(run(), number of Spark jobs it started), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_clusters_collapses_a_63_hop_chain(spark, edit_chain_dir):
    from log2ck_spark.queries.pipelineops import _jaccard_edges

    d = edit_chain_dir
    edges = sorted(map(tuple, _jaccard_edges(spark, d).collect()))
    assert edges == [(i, i + 1) for i in range(1, 64)]
    oracle = run_oracle(ORACLES["dedup_clusters"], d)
    assert len(oracle) == 64 and set(oracle.cluster_id) == {1}
    problems = compare(QUERIES["dedup_clusters"](spark, d), oracle)
    assert problems == [], problems


def test_dedup_clusters_builds_lazily_and_runs_in_fixed_jobs(
    spark, sf_dir, edit_chain_dir
):
    from log2ck_spark.queries.pipelineops import _jaccard_edges

    for d in (sf_dir, edit_chain_dir):
        # the first read of a table infers its parquet schema with one
        # job, once per process (io._read_parquet's memo): warm it so
        # the count below is the query's own
        QUERIES["dedup_clusters"](spark, d)
        spark.catalog.clearCache()
        df, build_jobs = _count_jobs(
            spark, lambda: QUERIES["dedup_clusters"](spark, d)
        )
        assert build_jobs == 0, d
        _, run_jobs = _count_jobs(spark, df.collect)
        spark.catalog.clearCache()
        _, edge_jobs = _count_jobs(spark, _jaccard_edges(spark, d).collect)
        assert run_jobs <= edge_jobs + 3, (d, run_jobs, edge_jobs)
