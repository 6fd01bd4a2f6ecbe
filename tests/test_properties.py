"""Property-based checks (SURVEY §5.2.3) on the composed migration
transform: for randomized nested customers × randomized mappings, the
reference invariants must hold (hypothesis drives the corpus shape;
Spark executes the real Column-expression pipeline)."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pro_etl_spark.ops.migration import CSV_SCHEMA, apply_migration

RUN_TS = "2026-08-13T00:00:00+00:00"

NESTED_SCHEMA = (
    "id string, "
    "custom_attributes array<struct<name:string,dt:string,value:string>>, "
    "users array<struct<business_partner_no:string, default_customer:string, "
    "profile:struct<creation_date:string>, "
    "credentials:struct<login:string,last_logged_in:string>, "
    "user_groups:array<string>, "
    "custom_attributes:array<struct<name:string,dt:string,value:string>>>>"
)

attr_name = st.sampled_from(
    ["MEK_Store_Id", "MEK_Store_Name", "MEK_DataAreaID", "MEK_SourceID",
     "MEK_DefaultDeliveryday", "MEK_Company", "LastOrderDate", "Other"]
)
attr = st.tuples(attr_name, st.just("string"), st.text(
    alphabet="abcXYZ019 &<>\"", min_size=0, max_size=8))
groups = st.lists(
    st.sampled_from(["CG_Mekonomen", "CG_Other", "CG_Third"]),
    max_size=3, unique=True)


def customer(i: int):
    # business-partner-no and login each sample both the equals-old-id
    # value (→ rewritten, migrate.py:221-225) and an unrelated one
    # (→ preserved)
    return st.tuples(
        st.just(str(1000 + i)),
        st.lists(attr, max_size=4),
        st.lists(
            st.tuples(
                st.sampled_from([str(1000 + i), f"BP{i}"]),
                st.sampled_from([str(1000 + i), "unrelated"]),
                st.tuples(st.just("2020-01-01T00:00:00+00:00")),
                st.tuples(
                    st.sampled_from([str(1000 + i), f"u{i}"]),
                    st.just("2023-01-01T00:00:00"),
                ),
                groups,
                st.lists(attr, max_size=3),
            ),
            min_size=1,
            max_size=2,
        ),
    )


corpus = st.integers(min_value=1, max_value=4).flatmap(
    lambda n: st.tuples(*[customer(i) for i in range(n)])
)
mapping_rows = st.lists(
    st.tuples(
        st.sampled_from([str(1000 + i) for i in range(4)] + ["9999"]),
        st.sampled_from(["-2D", "-12D", "", None]),
        st.sampled_from(["TRUE", "false", None]),
    ),
    min_size=1, max_size=5,
    unique_by=lambda r: r[0],
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(docs=corpus, mrows=mapping_rows)
def test_migration_invariants(spark, docs, mrows):
    nested = spark.createDataFrame(list(docs), NESTED_SCHEMA)
    mapping = spark.createDataFrame(
        [(cid, f"X{cid}", "S1", "ST1", "Store One", mand, dd)
         for cid, dd, mand in mrows],
        CSV_SCHEMA,
    )
    out = apply_migration(nested, mapping, run_ts=RUN_TS).collect()

    doc_ids = {d[0] for d in docs}
    matched = {cid for cid, _, _ in mrows if cid in doc_ids}
    by_map = {cid: (dd, mand) for cid, dd, mand in mrows}

    # semi-join cardinality: one output doc per matched customer
    assert {r.id for r in out} == {f"X{cid}" for cid in matched}
    for r in out:
        old_id = r.id[1:]
        dd, mand = by_map[old_id]
        attrs = {a.name: a for a in r.custom_attributes}
        # delivery upsert: mapped value or '-3D' default, dt=string;
        # advisory -12D flows through unchanged
        expect_dd = dd if dd not in (None, "") else "-3D"
        assert attrs["MEK_DefaultDeliveryday"].value == expect_dd
        assert attrs["MEK_DefaultDeliveryday"].dt == "string"
        # mandatory flag present iff mapped non-null, lower-cased, boolean-tagged
        if mand is None:
            assert "MEK_CustomerOrderNumberMandatory" not in attrs
        else:
            a = attrs["MEK_CustomerOrderNumberMandatory"]
            assert (a.value, a.dt) == (mand.lower(), "boolean")
        # store/source attr rewrites by name
        for name, new in [("MEK_Store_Id", "ST1"), ("MEK_WarehouseID", "ST1"),
                          ("MEK_Store_Name", "Store One"),
                          ("MEK_DataAreaID", "S1"), ("MEK_SourceID", "S1")]:
            if name in attrs:
                assert attrs[name].value == new
        doc = next(d for d in docs if d[0] == old_id)
        for u_in, u in zip(doc[2], r.users):
            # generalized subtree rewrite: any text field equal to the
            # old id becomes the new id (bp-no conditionally too,
            # migrate.py:221-225); everything else is untouched — the
            # old id never survives anywhere in the user subtree
            bp_in, login_in = u_in[0], u_in[3][0]
            assert u.business_partner_no == (r.id if bp_in == old_id else bp_in)
            assert u.credentials.login == (r.id if login_in == old_id else login_in)
            assert u.default_customer in (r.id, "unrelated")
            assert u.default_customer != old_id
            assert all(a.value != old_id for a in u.custom_attributes)
            assert u.user_groups.count("CG_Mekonomen") == 1
            assert all(a.name != "LastOrderDate" for a in u.custom_attributes)
            assert u.profile.creation_date == RUN_TS
            assert "last_logged_in" not in u.credentials.asDict()
            assert u.credentials.login is not None


def test_scd2_intervals_chain(spark):
    """SCD2 invariants beyond the oracle: per key exactly one open
    (is_current) interval, intervals chain with no gaps (each valid_to
    equals the next valid_from), and consecutive intervals never carry
    the same status (compression is complete)."""
    import pro_etl_spark

    rows = pro_etl_spark.get_queries()["scd2_intervals"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.custkey, []).append(r)
    for key, ivs in by_key.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in ivs) == 1, key
        assert ivs[-1].is_current and ivs[-1].valid_to is None
        for cur, nxt in zip(ivs, ivs[1:]):
            assert cur.valid_to == nxt.valid_from, key
            assert cur.status != nxt.status, key


def test_merge_scd1_action_semantics(spark):
    """MERGE branch semantics: every target key appears exactly once,
    inserts are exactly the shifted keys, and 'keep' rows carry their
    original target values."""
    import pro_etl_spark
    from pro_etl_spark.io import load
    from pro_etl_spark.ops.cdc import INSERT_KEY_SHIFT

    sf = "/root/testdata/sf0.001"
    merged = pro_etl_spark.get_queries()["merge_scd1"](spark, sf).collect()
    target = {r.c_custkey: r for r in load(spark, sf, "customer").collect()}
    seen = set()
    for r in merged:
        assert r.c_custkey not in seen, "key emitted twice"
        seen.add(r.c_custkey)
        if r.row_action == "insert":
            assert r.c_custkey >= INSERT_KEY_SHIFT
            assert r.c_name == "NEW ACCOUNT"
        elif r.row_action == "keep":
            t = target[r.c_custkey]
            assert (r.c_acctbal, r.c_name) == (t.c_acctbal, t.c_name)
        else:
            assert r.row_action == "update" and r.c_custkey in target
    assert set(target) <= seen, "no target row dropped"


# ---------------------------------------------------------------------------
# corpus-op invariants on the real testdata (sf0.001): cheap, deterministic
# structural properties that the value oracles can't express directly
# ---------------------------------------------------------------------------

CORPUS_SF = "/root/testdata/sf0.001"


def test_segment_dedup_conservation(spark):
    """Per document: kept + removed segments == total segments, and the
    reassembled text is a subsequence of the original tokens."""
    import pro_etl_spark
    from pro_etl_spark.io import load

    out = pro_etl_spark.get_queries()["dedup_paragraph"](spark, CORPUS_SF)
    rows = {r["doc_id"]: r for r in out.collect()}
    docs = {
        r["doc_id"]: r["text"].split()
        for r in load(spark, CORPUS_SF, "documents").collect()
    }
    assert set(rows) == set(docs)
    for doc_id, r in rows.items():
        toks = docs[doc_id]
        import math

        assert r["n_segs"] == math.ceil(len(toks) / 20)
        kept_toks = r["clean_text"].split() if r["clean_text"] else []
        # kept text must be a subsequence of the original token stream
        it = iter(toks)
        assert all(t in it for t in kept_toks), doc_id


def test_passage_chunking_covers_every_token(spark):
    """Every source token position lands in at least one passage, the
    stride/overlap arithmetic holds, and per-passage n_tokens is the
    real token count."""
    import pro_etl_spark
    from pro_etl_spark.io import load
    from pro_etl_spark.ops.corpus import PASSAGE_STRIDE, PASSAGE_TOKENS

    out = pro_etl_spark.get_queries()["chunk_passages"](spark, CORPUS_SF)
    by_doc: dict = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    docs = {
        r["doc_id"]: r["text"].split()
        for r in load(spark, CORPUS_SF, "documents").collect()
    }
    for doc_id, toks in docs.items():
        ps = sorted(by_doc[doc_id], key=lambda r: r["passage_idx"])
        covered = 0  # tokens covered so far (contiguous from the left)
        for r in ps:
            start = r["passage_idx"] * PASSAGE_STRIDE
            ptoks = r["passage"].split()
            assert ptoks == toks[start : start + PASSAGE_TOKENS]
            assert r["n_tokens"] == len(ptoks)
            assert start <= covered  # no gap
            covered = max(covered, start + len(ptoks))
        assert covered == len(toks)  # full coverage


def test_training_shuffle_is_a_permutation_and_seed_stable(spark):
    """shuffle_shards emits every doc exactly once, positions are
    1..n per shard, and rerunning yields the identical order."""
    import pro_etl_spark

    q = pro_etl_spark.get_queries()["shuffle_shards"]
    a = q(spark, CORPUS_SF).collect()
    b = q(spark, CORPUS_SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard: dict = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    n = sum(len(v) for v in by_shard.values())
    assert n == len({r["doc_id"] for r in a})
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_pack_bestfit_invariants(spark):
    """FFD packing: every doc placed exactly once, no bin over
    capacity (oversize docs isolated), bin_fill consistent, and FFD
    uses no more bins than naive sequential packing per source."""
    import collections

    import pro_etl_spark
    from pro_etl_spark.ops.corpus import PACK_CAPACITY

    rows = pro_etl_spark.get_queries()["pack_bestfit"](spark, CORPUS_SF).collect()
    docs = pro_etl_spark.get_queries()["text_tokens"](spark, CORPUS_SF).collect()
    assert len(rows) == len({r.doc_id for r in rows}) == len(docs)
    fills = collections.defaultdict(int)
    for r in rows:
        fills[(r.source, r.bin_id)] += r.n_tokens
    for (src, b), fill in fills.items():
        assert fill <= PACK_CAPACITY
    for r in rows:
        assert fills[(r.source, r.bin_id)] == r.bin_fill
    # FFD never beats the capacity lower bound, never loses to naive
    per_source = collections.defaultdict(list)
    for r in rows:
        per_source[r.source].append(r.n_tokens)
    for src, sizes in per_source.items():
        used = len({b for (s, b) in fills if s == src})
        lower = -(-sum(sizes) // PACK_CAPACITY)
        naive = 1
        fill = 0
        for n in sizes:  # naive: arrival order, close bin when full
            if fill + n > PACK_CAPACITY:
                naive += 1
                fill = 0
            fill += n
        assert lower <= used <= naive


def test_compression_ratio_signal(spark):
    """zlib quality signal: ratios bounded and deterministic, and the
    corpus's most-repetitive documents (by the exact dup-trigram
    census) compress strictly better on average than the least
    repetitive ones."""
    import pro_etl_spark

    q = pro_etl_spark.get_queries()
    a = {r.doc_id: r for r in q["text_compression_ratio"](spark, CORPUS_SF).collect()}
    b = {r.doc_id: r for r in q["text_compression_ratio"](spark, CORPUS_SF).collect()}
    assert {k: (v.n_compressed) for k, v in a.items()} == {
        k: (v.n_compressed) for k, v in b.items()
    }  # deterministic
    for r in a.values():
        assert 0 < r.ratio <= 1.2
        assert r.n_bytes > 0
    rep = {
        r.doc_id: r.dup_trigram_ratio
        for r in q["text_repetition"](spark, CORPUS_SF).collect()
    }
    ranked = sorted(rep, key=lambda k: rep[k])
    lo = [a[k].ratio for k in ranked[:50]]
    hi = [a[k].ratio for k in ranked[-50:]]
    assert sum(hi) / len(hi) < sum(lo) / len(lo)


def _luhn_valid(number: str) -> bool:
    """Textbook Luhn validator: from the rightmost digit, double every
    second digit, fold >9 back by -9, total must be ≡ 0 (mod 10)."""
    total = 0
    for pos, ch in enumerate(reversed(number)):
        d = int(ch)
        if pos % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def test_fn_luhn_emits_valid_check_digits(spark):
    """Every emitted card_number must pass an independent textbook
    Luhn validation, and the formula must reproduce the classic
    vector payload 7992739871 -> check digit 3 (regression for the
    inverted doubling parity that a mirrored oracle cannot catch)."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    # classic vector via the same pure-Python recipe the operator uses
    payload = "7992739871"
    digit_sum = 0
    n = len(payload)
    for i in range(1, n + 1):  # 1-based, check digit sits at n+1
        d = int(payload[i - 1])
        if (n - i) % 2 == 1:  # same parity rule as the operator
            digit_sum += d
        else:
            d *= 2
            digit_sum += d - 9 if d > 9 else d
    assert (10 - digit_sum % 10) % 10 == 3
    assert _luhn_valid(payload + "3")

    q = pro_etl_spark.get_queries()
    rows = q["fn_luhn"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert len(r.card_number) == 13
        assert _luhn_valid(r.card_number), r
        assert r.card_number[-1] == str(r.check_digit)


def test_bpe_train_merge_invariants(spark):
    """BPE training invariants: exactly BPE_MERGES rounds (rich
    corpus), distinct winning pairs, and non-increasing winning
    counts — a merge only removes or renames pairs adjacent to the
    merged symbol, and every newly created pair (X, ab) occurs at
    most as often as (a, b) did, so the argmax cannot grow."""
    import pro_etl_spark
    from pro_etl_spark.ops.text import BPE_MERGES
    from tests.conftest import SF_ORACLE

    rows = sorted(
        pro_etl_spark.get_queries()["bpe_train_merges"](
            spark, SF_ORACLE
        ).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == list(range(1, BPE_MERGES + 1))
    assert len({r.pair for r in rows}) == len(rows)
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:  # each winning pair is two space-joined symbols
        assert len(r.pair.split(" ")) == 2
        assert r.n_occurrences > 0


def test_data_funnel_is_monotone(spark):
    """Funnel sanity: each gate only removes — doc and token counts
    are non-increasing stage over stage, and every stage is present
    exactly once in order."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    rows = sorted(
        pro_etl_spark.get_queries()["pipeline_data_funnel"](
            spark, SF_ORACLE
        ).collect(),
        key=lambda r: r.stage_ord,
    )
    assert [r.stage for r in rows] == [
        "raw", "gopher", "exact_dedup", "near_dedup",
    ]
    docs = [r.n_docs for r in rows]
    toks = [r.n_tokens for r in rows]
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert docs[0] > 0 and docs[-1] > 0


def test_distributed_ntile_equals_global_window(spark):
    """_global_ntile must be bit-identical to the single-partition
    NTILE window for every n, including the N % n != 0 tail and the
    N < n degenerate case."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pro_etl_spark.ops.analytics import _global_ntile

    df = spark.range(0, 103).select(
        F.col("id").alias("custkey"), (F.col("id") * 37 % 11).alias("v")
    )
    for n in (2, 3, 5, 7, 200):
        got = {
            (r.custkey, r._ntile)
            for r in _global_ntile(
                df, n, [F.col("v"), F.col("custkey")]
            ).collect()
        }
        want = {
            (r.custkey, r.t)
            for r in df.select(
                "custkey",
                F.ntile(n).over(Window.orderBy("v", "custkey")).alias("t"),
            ).collect()
        }
        assert got == want, f"n={n}"


def test_distributed_running_sums_equal_global_window(spark):
    """_global_running_sums must match the single-partition running
    sum for every row."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pro_etl_spark.ops.analytics import _global_running_sums

    df = spark.range(0, 97).select(
        (F.col("id") * 13 % 29).cast("double").alias("value"),
        (F.col("id") % 5).alias("c1"),
        (F.col("id") % 3).alias("c2"),
    ).groupBy("value").agg(
        F.sum("c1").alias("c1"), F.sum("c2").alias("c2")
    )
    got = {
        (r.value, r.run_c1, r.run_c2)
        for r in _global_running_sums(df, ["value"], ["c1", "c2"]).collect()
    }
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.value, r.r1, r.r2)
        for r in df.select(
            "value",
            F.sum("c1").over(w).alias("r1"),
            F.sum("c2").over(w).alias("r2"),
        ).collect()
    }
    assert got == want


# --- Unicode-normalization policy for the dedup hash family ----------


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    word=st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu")),
        min_size=1,
        max_size=12,
    )
)
def test_hash60_is_byte_exact_no_normalization(spark, word):
    """Pinned policy (ops.dedup.tokset docstring): token hashing is
    byte-exact over the raw strings — NFC and NFKD variants of the
    same text hash DIFFERENTLY whenever their codepoint sequences
    differ, and identically when they don't. This is what keeps every
    dedup oracle bit-identical in DuckDB (md5 over the same bytes);
    normalization belongs at ingest, not inside the hash consumers."""
    import hashlib
    import unicodedata

    from pro_etl_spark.ops.hashing import hash60

    variants = {unicodedata.normalize(f, word) for f in ("NFC", "NFKD")}
    df = spark.createDataFrame([(v,) for v in variants], ["t"])
    got = {r.t: r.h for r in df.select("t", hash60(F.col("t")).alias("h")).collect()}

    def py_h60(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

    for v in variants:
        assert got[v] == py_h60(v)  # byte-exact: md5 over raw UTF-8
    if len(variants) == 2:
        a, b = variants
        assert (got[a] == got[b]) == (a == b)


def test_shingle_lsh_pairs_subset_of_exact(spark):
    """Shingle-LSH invariants at test scale: every emitted pair is
    exact-verified at or above the Jaccard threshold (precision 1 by
    construction), pairs are canonically ordered (doc_a < doc_b), and
    the recall eval's hit count never exceeds its truth count."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    pairs = qs["dedup_minhash_shingle_lsh"](spark, SF_ORACLE).collect()
    assert pairs, "expected at least one shingle near-dup at test scale"
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert r.jaccard >= 0.5
    ev = qs["dedup_shingle_lsh_eval"](spark, SF_ORACLE).collect()[0]
    assert ev.n_hit <= ev.n_truth
    assert ev.recall is None or 0.0 <= ev.recall <= 1.0


def test_mannwhitney_matches_pure_python_midranks(spark):
    """events_mannwhitney invariants + independent recomputation: the
    doubled U statistics must satisfy u1_x2 + u2_x2 = 2·n1·n2, and R1
    must equal a pure-Python midrank rank-sum over the same values."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    row = (
        pro_etl_spark.get_queries()["events_mannwhitney"](spark, SF_ORACLE)
        .collect()[0]
    )
    assert row.u1_x2 + row.u2_x2 == 2 * row.n1 * row.n2
    assert row.u_stat == min(row.u1_x2, row.u2_x2) / 2

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select(
        "event_type", "value"
    )
    vals = [
        (r.event_type, r.value)
        for r in ev.collect()
        if r.event_type in ("click", "purchase")
    ]
    ranked = sorted(vals, key=lambda t: t[1])
    # midranks: average rank over each tie group, doubled to stay int
    r1_x2 = 0
    i = 0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j][1] == ranked[i][1]:
            j += 1
        avg_rank_x2 = (i + 1) + j  # 2 * (first_rank + last_rank) / 2
        r1_x2 += sum(avg_rank_x2 for t, _ in ranked[i:j] if t == "click")
        i = j
    assert r1_x2 == row.r1_x2


def test_impute_group_median_fills_with_observed_group_value(spark):
    """Every NULL (event_id % 7 == 0) must be filled with a value that
    some OTHER row of the same event_type actually observed (the
    PERCENTILE_DISC contract — no interpolated fabrications), and the
    was_imputed flag must match the dropout rule exactly."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["impute_group_median"](spark, SF_ORACLE).collect()
    assert rows and all(r.value_filled is not None for r in rows)
    observed = {}
    for r in rows:
        assert r.was_imputed == (r.event_id % 7 == 0)
        if not r.was_imputed:
            observed.setdefault(r.event_type, set()).add(r.value_filled)
    for r in rows:
        if r.was_imputed:
            assert r.value_filled in observed[r.event_type], r

def test_corpus_lang_entropy_bounds(spark):
    """0 <= H <= log2(n_langs) (+1 micro slack for the floor
    quantization), and a single-language source scores exactly 0."""
    import math

    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    for r in qs["corpus_lang_entropy"](spark, SF_ORACLE).collect():
        assert 0 <= r.entropy_micros <= math.log2(r.n_langs) * 1e6 + 1, r
        if r.n_langs == 1:
            assert r.entropy_micros == 0

def test_bpe_encode_fuses_trained_merges(spark):
    """Composition proof: replaying the learned table must produce the
    fused symbol of at least the FIRST (highest-count) merge in the
    encoded-symbol census, and no censused symbol may still contain a
    learnable adjacent pair that equals a trained merge (the fold
    consumed every occurrence it greedily could)."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    merges = sorted(
        (r["round"], r["pair"].replace(" ", ""))
        for r in qs["bpe_train_merges"](spark, SF_ORACLE).collect()
    )
    census = {r.symbol for r in qs["bpe_encode"](spark, SF_ORACLE).collect()}
    assert merges and merges[0][1] in census, (merges, sorted(census)[:5])


def test_systematic_pps_exactly_k_picks_per_group(spark):
    """Σ n_picks per non-empty source is exactly K (probe points
    partition the weight line), and any multi-pick doc must be heavier
    than W/K (only a doc spanning more than one probe gap can win
    twice)."""
    import pro_etl_spark
    from pro_etl_spark.ops.text import SYS_SAMPLE_K
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["sample_weighted_systematic"](spark, SF_ORACLE).collect()
    assert rows
    totals = {}
    for r in rows:
        totals[r.source] = totals.get(r.source, 0) + r.n_picks
    assert all(v == SYS_SAMPLE_K for v in totals.values()), totals
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    w_by_source = {
        r["source"]: r["w"]
        for r in docs.groupBy("source").agg(
            __import__("pyspark.sql.functions", fromlist=["sum"]).sum(
                "n_chars"
            ).alias("w")
        ).collect()
    }
    for r in rows:
        if r.n_picks > 1:
            assert r.n_chars > w_by_source[r.source] / SYS_SAMPLE_K, r


def test_lpa_communities_are_node_ids_and_stable_round1(spark):
    """Every community label must itself be a participating node id
    (labels only ever copy existing ids), and a node's community must
    be reachable within LPA_ROUNDS hops — cheap proxy: label is one of
    the node's graph component members (validated against the
    connected-components clustering, whose components can only be
    COARSER than LPA communities)."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    lpa = qs["graph_label_propagation"](spark, SF_ORACLE).collect()
    nodes = {r.doc_id for r in lpa}
    assert lpa and all(r.community in nodes for r in lpa)
    cc = {
        r.doc_id: r.cluster_id
        for r in qs["dedup_clusters"](spark, SF_ORACLE).collect()
    }
    for r in lpa:
        if r.doc_id in cc and r.community in cc:
            assert cc[r.doc_id] == cc[r.community], r


def test_js_divergence_bounds(spark):
    """0 <= JS <= 1 bit (quantization slack one micro per observed
    term), and sources must not all be identical (the synthetic
    corpus mixes domains, so some drift must register)."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["corpus_js_divergence"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert -0.001 <= r.js_divergence <= 1.001, r
    # the synthetic sources share one vocabulary, so divergences are
    # small — but sampling noise must register as strictly positive
    assert all(r.js_divergence > 0 for r in rows)


def test_bfs_distances_seed_and_bound_invariants(spark):
    """Seeds (the BFS_SEEDS smallest node ids) must carry hops=0,
    every hop value must lie in [0, BFS_ROUNDS], and every reached
    node at hops=h>0 must have at least one LSH-pair neighbor at
    h-1 (frontier relaxation can only grow one hop at a time)."""
    import pro_etl_spark
    from pro_etl_spark.ops.graph import BFS_ROUNDS, BFS_SEEDS
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["graph_bfs_distances"](spark, SF_ORACLE).collect()
    assert rows
    hops = {r.doc_id: r.hops for r in rows}
    assert all(0 <= h <= BFS_ROUNDS for h in hops.values())
    pairs = qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    nodes = sorted({r.doc_a for r in pairs} | {r.doc_b for r in pairs})
    seeds = set(nodes[:BFS_SEEDS])
    assert {n for n, h in hops.items() if h == 0} == seeds
    nbrs = {}
    for r in pairs:
        nbrs.setdefault(r.doc_a, set()).add(r.doc_b)
        nbrs.setdefault(r.doc_b, set()).add(r.doc_a)
    for n, h in hops.items():
        if h > 0:
            assert any(hops.get(m) == h - 1 for m in nbrs[n]), (n, h)


def test_listagg_ordered_and_consistent(spark):
    """nations_csv must be ascending-sorted, its element count must
    equal n_nations, and the 5-region/25-nation TPC-H shape holds."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["agg_listagg"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    assert sum(r.n_nations for r in rows) == 25
    for r in rows:
        parts = r.nations_csv.split(",")
        assert len(parts) == r.n_nations
        assert parts == sorted(parts), r


def test_filtered_topk_prefilter_semantics(spark):
    """Every returned neighbor must share the query's label (the
    predicate held INSIDE the ranking), ranks are dense from 1 with
    descending cosine, and — the pre-filter guarantee — each query
    returns min(TOP_K, #same-label-same-cell candidates) rows, never
    fewer (post-filtering a plain ANN result would under-return)."""
    import pro_etl_spark
    from pro_etl_spark.ops.similarity import TOP_K
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["ann_filtered_topk"](spark, SF_ORACLE).collect()
    assert rows
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    label_of = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    cells = {
        r.vec_id: r.cell
        for r in qs["ivf_kmeans_assign"](spark, SF_ORACLE)
        .select("vec_id", "cell")
        .collect()
    }
    by_q = {}
    for r in rows:
        assert r.label == label_of[r.query_id], r
        assert label_of[r.neighbor_id] == label_of[r.query_id], r
        assert -1.000001 <= r.cosine <= 1.000001
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        coss = [r.cosine for r in rs]
        assert coss == sorted(coss, reverse=True)
        n_cand = sum(
            1
            for v, lb in label_of.items()
            if v != q and lb == label_of[q] and cells.get(v) == cells.get(q)
        )
        assert len(rs) == min(TOP_K, n_cand), (q, len(rs), n_cand)


def test_top_k_ranking_contract(spark):
    """The ranking policy every top-k search shares (``_top_k``), on
    tied scores the oracle data rarely produces: at most TOP_K rows per
    query, contiguous bigint ranks from 1, score order with ties won by
    the smaller id, scores rounded to 6 places — for similarities
    (descending) and distances (ascending)."""
    from pyspark.sql.types import LongType

    from pro_etl_spark.ops.similarity import TOP_K, _top_k

    # query 0: 14 candidates with a 6-way tie across the TOP_K cut in
    # both orders; query 1: fewer candidates than TOP_K
    cands = (
        [(0, n, 0.9) for n in (41, 40)]
        + [(0, n, 0.5) for n in (17, 3, 29, 11, 8, 23)]
        + [(0, n, 0.1234567) for n in (5, 2, 31, 12, 6, 50)]
        + [(1, 9, 0.25), (1, 4, 0.25), (1, 7, -0.3333333)]
    )
    for score, out, desc in (("cos", "cosine", True), ("adist", "adist", False)):
        df = spark.createDataFrame(
            cands, f"query_id long, neighbor_id long, {score} double"
        )
        got = _top_k(df, score=score, out=out, desc=desc)
        assert got.columns == ["query_id", "neighbor_id", out, "rank"]
        assert isinstance(got.schema["rank"].dataType, LongType)
        by_q = {}
        for r in got.collect():
            by_q.setdefault(r.query_id, []).append(r)
        for q in (0, 1):
            rs = sorted(by_q[q], key=lambda r: r.rank)
            want = sorted(
                (c for c in cands if c[0] == q),
                key=lambda c: (-c[2] if desc else c[2], c[1]),
            )[:TOP_K]
            assert [r.rank for r in rs] == list(range(1, len(want) + 1))
            assert [(r.neighbor_id, r[out]) for r in rs] == [
                (c[1], round(c[2], 6)) for c in want
            ], (score, q)
        if desc:
            assert [r.neighbor_id for r in sorted(by_q[0], key=lambda r: r.rank)] == [
                40, 41, 3, 8, 11, 17, 23, 29, 2, 5,
            ]


def test_pair_graph_contract(spark):
    """The pair graph every graph operator and connected components
    share (``sym_edges``, ``smallest_nodes``, ``endpoint_degree``), on
    a hand-built pair table: both directions of every pair, the k
    smallest ids as seeds, endpoint degree equal to the edge list's
    out-degree — and each Python helper returns the rows of its SQL
    twin in DuckDB."""
    import collections

    import duckdb

    from pro_etl_spark.ops.dedup import (
        _SYM_EDGES_CTE,
        _smallest_nodes_sql,
        endpoint_degree,
        smallest_nodes,
        sym_edges,
    )

    # a triangle, a star around 9, a lone pair and a two-hop chain
    pairs = [
        (1, 2), (2, 3), (1, 3), (5, 9), (7, 9), (9, 12), (4, 11), (20, 30), (30, 40),
    ]
    nodes = sorted({n for p in pairs for n in p})
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    edges = sym_edges(df)
    assert edges.columns == ["src", "dst"]
    got_edges = sorted(tuple(r) for r in edges.collect())
    assert len(got_edges) == 2 * len(pairs)
    assert got_edges == sorted(pairs + [(b, a) for a, b in pairs])

    for k in (1, 3, len(nodes), len(nodes) + 5):
        got = smallest_nodes(edges, k)
        assert got.columns == ["node"]
        assert sorted(r.node for r in got.collect()) == nodes[:k], k

    deg = endpoint_degree(df)
    assert deg.columns == ["node", "degree"]
    got_deg = sorted(tuple(r) for r in deg.collect())
    assert got_deg == sorted(tuple(r) for r in edges.groupBy("src").count().collect())
    counts = collections.Counter(n for p in pairs for n in p)
    assert got_deg == sorted(counts.items())
    assert endpoint_degree(df, "doc_id", "deg").columns == ["doc_id", "deg"]

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE p (doc_a BIGINT, doc_b BIGINT)")
        con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
        with_edges = "WITH pairs AS (SELECT doc_a, doc_b FROM p)" + _SYM_EDGES_CTE
        sql = with_edges + " SELECT src, dst FROM edges"
        assert sorted(con.execute(sql).fetchall()) == got_edges
        for k in (3, len(nodes) + 5):
            sql = with_edges + f" SELECT node FROM ({_smallest_nodes_sql(k)})"
            assert sorted(r[0] for r in con.execute(sql).fetchall()) == nodes[:k], k
        sql = with_edges + " SELECT src, COUNT(*) FROM edges GROUP BY src"
        assert sorted(con.execute(sql).fetchall()) == got_deg
    finally:
        con.close()


def test_rolling_corr_bounds_and_warmup(spark):
    """corr_w must be NULL for warm-up rows (n_win < CORR_WIN) and in
    [-1, 1] (+rounding slack) otherwise; n_win never exceeds the
    frame size."""
    import pro_etl_spark
    from pro_etl_spark.ops.analytics import CORR_WIN
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["window_rolling_corr"](spark, SF_ORACLE).collect()
    assert rows
    saw_full = False
    for r in rows:
        assert 1 <= r.n_win <= CORR_WIN
        if r.n_win < CORR_WIN:
            assert r.corr_w is None, r
        elif r.corr_w is not None:
            saw_full = True
            assert -1.000001 <= r.corr_w <= 1.000001, r
    assert saw_full


def test_iqr_fences_consistent(spark):
    """q1 <= q3, fences bracket the quartiles symmetrically by
    IQR_K*IQR, quartiles are actual observed values, and the outlier
    census matches a direct recount."""
    import pro_etl_spark
    from pro_etl_spark.ops.analytics import IQR_K
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["anomaly_iqr"](spark, SF_ORACLE).collect()
    assert rows
    ev = (
        spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type = {}
    for e in ev:
        by_type.setdefault(e.event_type, []).append(e.value)
    for r in rows:
        vals = by_type[r.event_type]
        assert r.n == len(vals)
        assert r.q1 <= r.q3 and r.q1 in vals and r.q3 in vals
        assert abs(r.fence_lo - (r.q1 - IQR_K * (r.q3 - r.q1))) < 1e-6
        assert abs(r.fence_hi - (r.q3 + IQR_K * (r.q3 - r.q1))) < 1e-6
        n_out = sum(1 for v in vals if v < r.fence_lo - 1e-9 or v > r.fence_hi + 1e-9)
        assert abs(n_out - r.n_outliers) <= 2, r  # fence-rounding edge slack


def test_oov_rate_sums_and_bounds(spark):
    """Per-source token totals must equal the corpus token census and
    every OOV rate sits in [0, 1]; a top-500 vocab on a Zipfy corpus
    must cover SOME but not ALL occurrences (0 < overall rate < 1)."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["corpus_oov_rate"](spark, SF_ORACLE).collect()
    assert rows
    tot = sum(r.n_tokens for r in rows)
    oov = sum(r.n_oov for r in rows)
    assert 0 < oov < tot
    for r in rows:
        assert 0.0 <= r.oov_rate <= 1.0
        assert abs(r.oov_rate - r.n_oov / r.n_tokens) < 1e-6


def test_weighted_median_is_observed_and_balanced(spark):
    """The weighted median must be an actual observed value in its
    group, with at least half the total weight on each side (the
    defining property: W(v<=m) >= W/2 and W(v>=m) >= W/2)."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["agg_weighted_median"](spark, SF_ORACLE).collect()
    assert rows
    li = (
        spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    by_g = {}
    for r in li:
        by_g.setdefault(r.l_returnflag, []).append(
            (r.l_extendedprice, int(r.l_quantity))
        )
    for r in rows:
        vals = by_g[r.grp]
        tot = sum(w for _, w in vals)
        assert r.total_weight == tot
        assert any(v == r.weighted_median for v, _ in vals)
        below = sum(w for v, w in vals if v <= r.weighted_median)
        above = sum(w for v, w in vals if v >= r.weighted_median)
        assert 2 * below >= tot and 2 * above >= tot, r


def test_balanced_sample_exact_class_sizes(spark):
    """Every language must keep exactly min-class-count documents,
    each kept doc belongs to its claimed class, and class_rank is a
    dense 1..m sequence per class."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["sample_balanced"](spark, SF_ORACLE).collect()
    assert rows
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    counts = {
        r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()
    }
    m = min(counts.values())
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.class_rank)
    assert set(by_lang) == set(counts)
    for lang, ranks in by_lang.items():
        assert sorted(ranks) == list(range(1, m + 1)), lang


def test_forecast_backtest_metric_sanity(spark):
    """n_days = days - 1 per type (no forecast for the first day),
    MAE and WAPE are non-negative, and WAPE ~= MAE * n / sum|actual|."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["events_forecast_backtest"](spark, SF_ORACLE).collect()
    assert rows
    import pyspark.sql.functions as F

    daily = (
        spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .count()
        .groupBy("event_type")
        .count()
        .collect()
    )
    n_days = {r["event_type"]: r["count"] for r in daily}
    for r in rows:
        assert r.n_days == n_days[r.event_type] - 1
        assert r.mae >= 0 and r.wape >= 0


def test_degree_distribution_totals(spark):
    """Histogram must account for every node of the pair graph and
    sum(degree * n_nodes) must equal 2x the edge count."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    hist = qs["graph_degree_distribution"](spark, SF_ORACLE).collect()
    pairs = qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    nodes = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert sum(h.n_nodes for h in hist) == len(nodes)
    assert sum(h.degree * h.n_nodes for h in hist) == 2 * len(pairs)


def test_image_tiles_cover_exactly(spark):
    """Per image: tiles exactly cover [0,w)x[0,h) — tile count equals
    ceil(w/T)*ceil(h/T), areas sum to w*h, no box exceeds the image
    or the tile size."""
    import math

    import pro_etl_spark
    from pro_etl_spark.ops.multimodal import TILE_PX
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["mm_image_tiles"](spark, SF_ORACLE).collect()
    assert rows
    dims = {
        r.doc_id: (320 + r.n_bytes % 320, 240 + r.n_bytes % 240)
        for r in qs["mm_manifest"](spark, SF_ORACLE).collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, ts in by_doc.items():
        w, h = dims[doc]
        assert len(ts) == math.ceil(w / TILE_PX) * math.ceil(h / TILE_PX)
        area = sum((t.x1 - t.x0) * (t.y1 - t.y0) for t in ts)
        assert area == w * h, (doc, area, w * h)
        for t in ts:
            assert 0 < t.x1 - t.x0 <= TILE_PX and 0 < t.y1 - t.y0 <= TILE_PX
            assert t.x1 <= w and t.y1 <= h


def test_stream_dedup_watermark_one_survivor_per_key(spark):
    """The real dropDuplicatesWithinWatermark run must keep EXACTLY
    one survivor per (user, type) key across micro-batch boundaries:
    sum of per-user type counts == distinct (user, type) pairs, and
    per-user counts match a relational recount."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["stream_dedup_watermark"](spark, SF_ORACLE).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    truth = {
        r.user_id: r.n
        for r in ev.groupBy("user_id")
        .agg(
            __import__("pyspark.sql.functions", fromlist=["countDistinct"])
            .countDistinct("event_type")
            .alias("n")
        )
        .collect()
    }
    got = {r.user_id: r.n_types for r in rows}
    assert got == truth


def test_geomean_am_gm_inequality(spark):
    """Geometric mean must not exceed the arithmetic mean (AM-GM) and
    must sit inside the group's [min, max]."""
    import pro_etl_spark
    import pyspark.sql.functions as F
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["agg_geomean"](spark, SF_ORACLE).collect()
    assert rows
    stats = {
        r.grp: (r.am, r.lo, r.hi)
        for r in spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        .groupBy(F.col("l_returnflag").alias("grp"))
        .agg(
            F.avg("l_extendedprice").alias("am"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    for r in rows:
        am, lo, hi = stats[r.grp]
        assert lo <= r.geomean <= am + 0.01, r
        assert r.geomean <= hi


def test_hard_negatives_labels_differ(spark):
    """Every mined negative must carry a label DIFFERENT from its
    anchor's, ranks dense from 1 with descending cosine, and each
    anchor returns min(TOP_K, #different-label-same-cell candidates)."""
    import pro_etl_spark
    from pro_etl_spark.ops.similarity import TOP_K
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["ann_hard_negatives"](spark, SF_ORACLE).collect()
    assert rows
    label_of = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    cells = {
        r.vec_id: r.cell
        for r in qs["ivf_kmeans_assign"](spark, SF_ORACLE)
        .select("vec_id", "cell")
        .collect()
    }
    by_q = {}
    for r in rows:
        assert r.negative_label != r.query_label, r
        assert label_of[r.negative_id] == r.negative_label
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        coss = [r.cosine for r in rs]
        assert coss == sorted(coss, reverse=True)
        n_cand = sum(
            1
            for v, lb in label_of.items()
            if lb != label_of[q] and cells.get(v) == cells.get(q)
        )
        assert len(rs) == min(TOP_K, n_cand), (q, len(rs), n_cand)


def test_scd2_merge_version_shape(spark):
    """Changed keys (every 7th, excluding re-sent-identical cases)
    must carry exactly two versions with only v2 current; every other
    key exactly one current v1 row; total key set == the dimension."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["merge_scd2_apply"](spark, SF_ORACLE).collect()
    assert rows
    cust = {
        r.c_custkey
        for r in spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
        .select("c_custkey")
        .collect()
    }
    by_key = {}
    for r in rows:
        by_key.setdefault(r.custkey, []).append(r)
    assert set(by_key) == cust
    for k, vs in by_key.items():
        if k % 7 == 0:
            assert len(vs) == 2
            cur = [v for v in vs if v.is_current]
            assert len(cur) == 1 and cur[0].version == 2
            old = [v for v in vs if not v.is_current][0]
            assert abs(cur[0].acctbal - old.acctbal - 100.0) < 1e-9
        else:
            assert len(vs) == 1 and vs[0].is_current and vs[0].version == 1


def _hrw_shard(doc_id: int, n_shards: int) -> int:
    """Reference rendezvous assignment: same 60-bit md5 recipe as
    pro_etl_spark.ops.hashing.hash60, argmax by (h DESC, shard ASC)."""
    import hashlib

    best = None
    for s in range(n_shards):
        h = int(
            hashlib.md5(f"{doc_id}:shard:{s}".encode()).hexdigest()[:15], 16
        )
        key = (-h, s)
        if best is None or key < best[0]:
            best = (key, s)
    return best[1]


def test_rendezvous_matches_reference_and_minimal_movement(spark):
    """The in-row argmax must equal the reference HRW computation, and
    — the property rendezvous hashing exists for — growing the shard
    set from N to N+1 may only move documents TO the new shard (no
    doc ever moves between surviving shards)."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    # import AFTER get_queries(): ops.corpus's funnel oracle reads the
    # text.py registry entry, so the registry must load in its order
    from pro_etl_spark.ops.corpus import N_RENDEZVOUS_SHARDS

    rows = qs["shard_rendezvous"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows[:200]:
        assert r.shard == _hrw_shard(r.doc_id, N_RENDEZVOUS_SHARDS), r
    for r in rows[:500]:
        grown = _hrw_shard(r.doc_id, N_RENDEZVOUS_SHARDS + 1)
        if grown != r.shard:
            assert grown == N_RENDEZVOUS_SHARDS, (r.doc_id, r.shard, grown)


def test_pair_similarity_histogram_accounts_for_every_pair(spark):
    """Histogram mass must equal the pair-table row count and every
    bucket must sit in [0, 20] with bucket_lo = bucket * 0.05."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    hist = qs["dedup_pair_similarity_histogram"](spark, SF_ORACLE).collect()
    pairs = qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    assert sum(h.n_pairs for h in hist) == len(pairs)
    for h in hist:
        assert 0 <= h.bucket <= 20
        assert abs(h.bucket_lo - h.bucket * 0.05) < 1e-9


def test_class_separation_positive_and_distinct(spark):
    """intra spread and inter margin must be positive, nearest_label
    != label, and every embedding label is audited."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["embed_class_separation"](spark, SF_ORACLE).collect()
    labels = {
        r.label
        for r in spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .select("label")
        .distinct()
        .collect()
    }
    assert {r.label for r in rows} == labels
    for r in rows:
        assert r.intra_msd > 0 and r.inter_d2 > 0 and r.separation > 0
        assert r.nearest_label != r.label


def test_referential_integrity_counts(spark):
    """Orphan/unreferenced counts must match direct recounts; the
    synthetic star schema is FK-consistent (0 orphans) while
    events->customer leaves some customers unreferenced."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = {r.relation: r for r in qs["dq_referential_integrity"](spark, SF_ORACLE).collect()}
    assert set(rows) == {"orders->customer", "lineitem->part", "events->customer"}
    for r in rows.values():
        assert r.n_orphan_children == 0
    ev_users = {
        r.user_id
        for r in spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .select("user_id").distinct().collect()
    }
    custs = {
        r.c_custkey
        for r in spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
        .select("c_custkey").collect()
    }
    assert rows["events->customer"].n_unreferenced_parents == len(custs - ev_users)


def test_time_to_convert_matches_reference(spark):
    """p50/p90 must equal a driver-side recomputation of the same
    discrete order statistics, and every delta is non-negative."""
    import pro_etl_spark
    import math
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    row = qs["events_time_to_convert"](spark, SF_ORACLE).collect()[0]
    ev = (
        spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    first_view, first_purch = {}, {}
    for e in ev:
        if e.event_type == "view":
            if e.user_id not in first_view or e.ts < first_view[e.user_id]:
                first_view[e.user_id] = e.ts
    for e in ev:
        if e.event_type == "purchase" and e.user_id in first_view and e.ts >= first_view[e.user_id]:
            if e.user_id not in first_purch or e.ts < first_purch[e.user_id]:
                first_purch[e.user_id] = e.ts
    deltas = sorted(
        (int((first_purch[u] - first_view[u]).total_seconds() * 1_000_000), u)
        for u in first_purch
    )
    n = len(deltas)
    assert row.n_converters == n
    assert row.p50_us == deltas[math.ceil(0.5 * n) - 1][0]
    assert row.p90_us == deltas[math.ceil(0.9 * n) - 1][0]
    assert all(d >= 0 for d, _ in deltas)


def test_bbit_estimator_bounds(spark):
    """bits_agree in [0, PERMS]; estimator in [0, 1]; exact-duplicate
    pairs (jaccard == 1) must agree on EVERY bit (matched minima)."""
    import pro_etl_spark
    from pro_etl_spark.ops.dedup import MINHASH_PERMS
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["dedup_minhash_bbit"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.bits_agree <= MINHASH_PERMS
        assert 0.0 <= r.jaccard_bbit <= 1.0
        if r.jaccard == 1.0:
            assert r.bits_agree == MINHASH_PERMS, r


def test_try_arithmetic_poison_rows_only(spark):
    """Poison rides the deterministic key slices: safe_div NULL
    exactly on %97 keys, add overflow (-1) exactly on %101 keys above
    the survivable range, mul overflow flag exactly on %103 keys > 1;
    healthy rows compute normally."""
    import pro_etl_spark
    from pro_etl_spark.ops.scalars import TRY_ADDEND
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["fn_try_arithmetic"](spark, SF_ORACLE).collect()
    assert rows
    max_i64 = (1 << 63) - 1
    saw_div = saw_add = saw_mul = 0
    for r in rows[:5000]:
        assert (r.safe_div is None) == (r.l_orderkey % 97 == 0), r
        add_over = (
            r.l_orderkey % 101 == 0 and r.l_orderkey + TRY_ADDEND > max_i64
        )
        if add_over:
            assert r.add_mod997 == -1, r
        else:
            addend = TRY_ADDEND if r.l_orderkey % 101 == 0 else 1000
            assert r.add_mod997 == (r.l_orderkey + addend) % 997, r
        assert r.mul_overflowed == (
            r.l_orderkey % 103 == 0 and r.l_orderkey > 1
        ), r
        saw_div += r.safe_div is None
        saw_add += r.add_mod997 == -1
        saw_mul += r.mul_overflowed
    assert saw_div and saw_add and saw_mul  # every poison path hit


def test_cdc_chunks_tile_payload_and_shift_locally(spark):
    """Chunks must tile [0, n) exactly per doc; and — the property
    content-defined chunking exists for — a reference recomputation
    of the same rolling hash yields identical cut points, while
    prepending one character to a text shifts ONLY boundaries before
    the first post-insertion cut (checked on a sample)."""
    import pro_etl_spark
    from pro_etl_spark.ops.multimodal import (
        CDC_MASK, CDC_MOD, CDC_POWS, CDC_WIN,
    )
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["mm_chunk_cdc"](spark, SF_ORACLE).collect()
    assert rows
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }

    def cuts(text: str) -> list:
        starts = [0]
        for i in range(CDC_WIN, len(text) + 1):
            h = 0
            for j in range(CDC_WIN):
                h = (h + ord(text[i - j - 1]) * CDC_POWS[j]) % CDC_MOD
            if h % CDC_MASK == 0:
                starts.append(i)
        return starts

    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    checked = 0
    for doc, ts in sorted(by_doc.items())[:50]:
        text = docs[doc]
        ts.sort(key=lambda r: r.chunk_idx)
        assert ts[0].chunk_start == 0
        for cur, nxt in zip(ts, ts[1:]):
            assert cur.chunk_start + cur.chunk_len == nxt.chunk_start
        assert ts[-1].chunk_start + ts[-1].chunk_len == len(text)
        assert [t.chunk_start for t in ts] == cuts(text)
        # boundary-shift resistance: prepend one char; all cuts at
        # i >= first cut beyond CDC_WIN simply shift by +1 (same
        # content windows), i.e. the tail of the cut set is preserved
        shifted = cuts("Z" + text)
        tail = [c for c in cuts(text) if c >= CDC_WIN]
        assert set(c + 1 for c in tail) <= set(shifted)
        checked += 1
    assert checked


def test_conditional_distinct_subset(spark):
    """Heavy users must be a subset: n_heavy_users <= n_users, and the
    share consistent."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    for r in qs["agg_conditional_distinct"](spark, SF_ORACLE).collect():
        assert 0 <= r.n_heavy_users <= r.n_users
        assert abs(r.heavy_share - r.n_heavy_users / r.n_users) < 1e-6


def test_shard_balance_accounts_for_corpus(spark):
    """Shard doc/token totals must equal the corpus census, every
    shard 0..7 must be populated, and balance factors average ~1."""
    import pro_etl_spark
    import pyspark.sql.functions as F
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["corpus_shard_balance"](spark, SF_ORACLE).collect()
    assert {r.shard for r in rows} == set(range(8))
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    truth = docs.select(
        F.count("*").alias("n"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("t"),
    ).collect()[0]
    assert sum(r.n_docs for r in rows) == truth.n
    assert sum(r.n_tokens for r in rows) == truth.t
    mean_bal = sum(r.token_balance for r in rows) / len(rows)
    assert abs(mean_bal - 1.0) < 0.01


def test_zipf_slope_negative_and_bounded(spark):
    """The frequency spectrum must slope DOWN in log-log space (the
    defining Zipf property) and n_types must equal the vocab size."""
    import pro_etl_spark
    import pyspark.sql.functions as F
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    row = qs["text_zipf_fit"](spark, SF_ORACLE).collect()[0]
    n_vocab = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    assert row.n_types == n_vocab
    assert row.zipf_slope < 0


def test_markov_stationary_is_distribution_and_fixed_pointish(spark):
    """The stationary vector must (a) keep ~unit mass (floor leak
    <= rounds * |types|^2 micros — one micro per matrix TERM), (b)
    cover every observed event type,
    and (c) be close to one more application of the transition matrix
    (near-fixed-point after the power rounds)."""
    import pro_etl_spark
    from pro_etl_spark.ops.analytics import MARKOV_POWER_ROUNDS
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    pi = {
        r.event_type: r.stationary_micros
        for r in qs["events_markov_stationary"](spark, SF_ORACLE).collect()
    }
    trans = qs["markov_transitions"](spark, SF_ORACLE).collect()
    types = {t.cur for t in trans}
    assert set(pi) == types
    total = sum(pi.values())
    leak_bound = MARKOV_POWER_ROUNDS * (len(types) ** 2 + 1)
    assert 1_000_000 - leak_bound <= total <= 1_000_000
    tot_i = {}
    for t in trans:
        tot_i[t.cur] = tot_i.get(t.cur, 0) + t.n
    nxt = {k: 0 for k in types}
    for t in trans:
        nxt[t.nxt] += (pi[t.cur] * t.n) // tot_i[t.cur]
    for k in types:
        assert abs(nxt[k] - pi[k]) < 25_000, (k, nxt[k], pi[k])


def test_poisson_bootstrap_weights_distribution(spark):
    """Every replicate must draw ~n effective rows (Poisson(1) mass
    sums to ~1 per row: |n_eff - n| well inside 5 sigma = 5*sqrt(n))
    and replicate means must cluster around the true mean."""
    import math

    import pro_etl_spark
    from pro_etl_spark.ops.analytics import BOOT_REPLICATES
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["sample_poisson_bootstrap"](spark, SF_ORACLE).collect()
    assert len(rows) == BOOT_REPLICATES
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select("value")
    n = ev.count()
    true_mean = ev.agg({"value": "avg"}).collect()[0][0]
    for r in rows:
        assert abs(r.n_eff - n) < 5 * math.sqrt(n), r
        assert abs(r.rep_mean - true_mean) / true_mean < 0.2, r


def test_cross_dedup_matrix_accounts_for_pairs(spark):
    """Matrix mass must equal the LSH pair count and every cell's
    sources must be canonically ordered."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    cells = qs["corpus_cross_dedup_matrix"](spark, SF_ORACLE).collect()
    pairs = qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    assert sum(c.n_dup_pairs for c in cells) == len(pairs)
    for c in cells:
        assert c.source_a <= c.source_b
        assert c.dup_ppm > 0


def test_seasonal_residual_fewer_flags_than_raw_zscore(spark):
    """All anomaly counts are small relative to n (3-sigma gates), and
    sigma_r must not exceed the raw per-type sigma (removing the DOW
    component can only shrink variance, up to quantization slack)."""
    import pro_etl_spark
    import pyspark.sql.functions as F
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["events_seasonal_residual"](spark, SF_ORACLE).collect()
    assert rows
    raw = {
        r.event_type: r.s
        for r in spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .groupBy("event_type")
        .agg(F.stddev_pop("value").alias("s"))
        .collect()
    }
    for r in rows:
        assert r.n_anomalies < 0.05 * r.n
        assert r.sigma_r <= raw[r.event_type] + 1e-6, r


def test_vwap_bracketed_by_prices(spark):
    """A volume-weighted average must sit inside [min, max] of the
    prices in its frame — cheap proxy: global per-part min/max."""
    import pro_etl_spark
    import pyspark.sql.functions as F
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["window_vwap"](spark, SF_ORACLE).collect()
    assert rows
    rng = {
        r.l_partkey: (r.lo, r.hi)
        for r in spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        .groupBy("l_partkey")
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    for r in rows[:3000]:
        lo, hi = rng[r.l_partkey]
        assert lo - 1e-6 <= r.vwap <= hi + 1e-6, r
        assert r.vol_w > 0


def test_vwap_half_tie_is_exact_and_engine_portable(spark, tmp_path):
    """Regression for the CORRECTNESS_r11 red row: the old
    round-on-IEEE-quotient form let a `...5` at the 6th decimal
    resolve differently in Spark (HALF_UP on shortest repr, down) vs
    DuckDB (up) — 2 of 60k rows at sf0.01. The r12 integer-micros
    formulation makes the tie deterministic: this frame is engineered
    so the exact quotient is 1.0000625 (micros 1,000,062.5), and BOTH
    the Spark operator and its DuckDB oracle must land half-up on
    1.000063 — bit-identically."""
    import duckdb

    import pro_etl_spark

    rows = [
        # frame of row 2 = {row 1, row 2}: P6 = 1001*1 + 1000*15
        # = 16001 (odd), V3 = 16 -> micros = 16001*1000/16 = 1000062.5
        (1, datetime.date(1995, 1, 1), 1, 1, 1.001, 0.001),
        (1, datetime.date(1995, 1, 2), 2, 1, 1.000, 0.015),
    ]
    df = spark.createDataFrame(
        rows,
        "l_partkey long, l_shipdate date, l_orderkey long,"
        " l_linenumber int, l_extendedprice double, l_quantity double",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))

    qs = pro_etl_spark.get_queries()
    got = {
        (r.l_orderkey): (r.vwap, r.vol_w)
        for r in qs["window_vwap"](spark, str(tmp_path)).collect()
    }
    assert got[1] == (1.001, 0.001)
    assert got[2] == (1.000063, 0.016), got[2]  # half-UP, not down

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM"
        f" read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    oracle = {
        r[2]: (r[4], r[5])
        for r in con.execute(
            pro_etl_spark.get_oracles()["window_vwap"]
        ).fetchall()
    }
    assert oracle == got


def test_burstiness_accounts_and_nonnegative(spark):
    """Per-type event totals must equal the raw census; Fano factors
    are non-negative."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["events_burstiness"](spark, SF_ORACLE).collect()
    truth = {
        r.event_type: r.n
        for r in spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {r.event_type: r.n_events for r in rows} == truth
    for r in rows:
        assert r.fano >= 0 and r.n_buckets > 0


def test_ppr_mass_concentrated_near_seeds(spark):
    """PPR mass must stay <= the initial unit (integral flooring only
    leaks), seeds must hold positive mass (teleport guarantees it),
    and every scored node is reachable within PPR_ROUNDS + 1 hops of a
    seed (mass can only travel one hop per round)."""
    import pro_etl_spark
    from pro_etl_spark.ops.graph import BFS_SEEDS, PPR_ROUNDS
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["graph_personalized_pagerank"](spark, SF_ORACLE).collect()
    assert rows
    assert sum(r.ppr_micros for r in rows) <= 1_000_000
    pairs = qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    nodes = sorted({r.doc_a for r in pairs} | {r.doc_b for r in pairs})
    seeds = set(nodes[:BFS_SEEDS])
    scored = {r.doc_id for r in rows}
    assert seeds <= scored
    hops = {r.doc_id: r.hops for r in qs["graph_bfs_distances"](spark, SF_ORACLE).collect()}
    for r in rows:
        assert hops.get(r.doc_id, 99) <= PPR_ROUNDS, r


def test_dup_inflation_consistency(spark):
    """Dup doc/token counts must match a direct recount from the LSH
    node set, and the share must be dup_tokens/total."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    row = qs["corpus_dup_inflation"](spark, SF_ORACLE).collect()[0]
    pairs = qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    nodes = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert row.n_dup_docs == len(nodes)
    assert 0 < row.n_dup_tokens <= row.n_tokens
    assert abs(row.dup_token_share - row.n_dup_tokens / row.n_tokens) < 1e-6


def test_code_detection_fires_on_code_fixture(spark):
    """The router must flag an actual code snippet and pass prose —
    pinned on explicit fixtures, since the synthetic corpus is all
    prose (where the flag must be uniformly false)."""
    import pro_etl_spark
    import pyspark.sql.functions as F
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    corpus_rows = qs["text_code_detection"](spark, SF_ORACLE).collect()
    assert corpus_rows and all(not r.looks_like_code for r in corpus_rows)

    from pro_etl_spark.ops.text import text_code_detection  # noqa: F401
    code = "def f(x): return {k: v for (k, v) in x.items() if v >= 0};"
    prose = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, code), (2, prose)], "doc_id long, text string"
    )
    t = F.col("text")
    code_chars = F.size(
        F.regexp_extract_all(t, F.lit(r"[{}();=\[\]<>]"), F.lit(0))
    )
    out = {
        r.doc_id: r.flag
        for r in df.select(
            "doc_id", (code_chars > 0.05 * F.length(t)).alias("flag")
        ).collect()
    }
    assert out == {1: True, 2: False}


def test_norm_outliers_median_pivot(spark):
    """The pivot must be the true median of rounded norms, ratios are
    nrm/median, and the synthetic embeddings (uniform components)
    contain no broken vectors."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["embed_norm_outliers"](spark, SF_ORACLE).collect()
    assert rows
    import math

    norms = sorted((r.nrm, r.vec_id) for r in rows)
    med = norms[math.ceil(0.5 * len(norms)) - 1][0]
    for r in rows:
        assert abs(r.norm_ratio - round(r.nrm / med, 6)) < 1e-6
        assert not r.is_broken, r


def test_width_bucket_overflow_buckets_populate(spark):
    """Both overflow buckets must appear (the range sits inside the
    data span) and every bucket must match the arithmetic definition."""
    import pro_etl_spark
    from pro_etl_spark.ops.scalars import WB_HI, WB_LO, WB_N
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["fn_width_bucket"](spark, SF_ORACLE).collect()
    seen = {r.bucket for r in rows}
    assert 0 in seen and WB_N + 1 in seen
    w = (WB_HI - WB_LO) / WB_N
    for r in rows[:3000]:
        if r.value < WB_LO:
            assert r.bucket == 0
        elif r.value >= WB_HI:
            assert r.bucket == WB_N + 1
        else:
            assert r.bucket == int((r.value - WB_LO) // w) + 1, r


def test_coverage_curve_monotone(spark):
    """k_tokens and mass_share must both rise with the threshold, and
    each mass_share must actually clear its threshold."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = sorted(
        qs["corpus_ngram_coverage"](spark, SF_ORACLE).collect(),
        key=lambda r: r.pct_mass,
    )
    assert [r.pct_mass for r in rows] == [50, 90, 99]
    ks = [r.k_tokens for r in rows]
    assert ks == sorted(ks)
    for r in rows:
        assert r.mass_share >= r.pct_mass / 100.0


def test_modularity_global_sum_in_range(spark):
    """Global Q (sum of contributions) must lie in [-1, 1], and each
    community's intra-edge count can't exceed the total edge count."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["graph_modularity"](spark, SF_ORACLE).collect()
    assert rows
    m = len(qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect())
    q = sum(r.q_contrib for r in rows)
    assert -1.0001 <= q <= 1.0001
    for r in rows:
        assert 0 <= r.intra_edges <= m
        assert abs(r.q_contrib - r.q_num / (4.0 * m * m)) < 1e-6


def test_keyset_equals_offset_page(spark):
    """Seek pagination must return exactly the OFFSET page under the
    same total order — row for row."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    seek = qs["scan_pagination_keyset"](spark, SF_ORACLE).collect()
    base = (
        spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .orderBy("o_orderdate", "o_orderkey")
        .collect()
    )
    want = [
        (r.o_orderkey, r.o_orderdate, r.o_totalprice) for r in base[60:80]
    ]
    got = [(r.o_orderkey, r.o_orderdate, r.o_totalprice) for r in seek]
    assert got == want


def test_freq_spectrum_mass_accounting(spark):
    """Σ k·N_k must equal total occurrences and Σ N_k the vocab size."""
    import pro_etl_spark
    import pyspark.sql.functions as F
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["text_freq_spectrum"](spark, SF_ORACLE).collect()
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
    assert sum(r.occurrences * r.n_types for r in rows) == toks.count()
    assert sum(r.n_types for r in rows) == toks.distinct().count()


def test_late_dimension_two_stage_complete(spark):
    """Every order resolves exactly once; stage assignment follows the
    v1-snapshot membership rule; no order is dropped."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["cdc_late_dimension"](spark, SF_ORACLE).collect()
    orders = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    seen = {}
    for r in rows:
        assert r.o_orderkey not in seen
        seen[r.o_orderkey] = r.resolved_stage
        assert r.resolved_stage == (2 if orders[r.o_orderkey] % 3 == 0 else 1)
    assert set(seen) == set(orders)


def test_langid_confusion_shares_sum_to_one(spark):
    """Per true language the recall shares must sum to 1 and counts to
    the language's doc count."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    rows = qs["text_langid_confusion"](spark, SF_ORACLE).collect()
    truth = {
        r.lang: r.n
        for r in spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    by_true = {}
    for r in rows:
        by_true.setdefault(r.true_lang, []).append(r)
    assert set(by_true) == set(truth)
    for lang, rs in by_true.items():
        assert sum(r.n for r in rs) == truth[lang]
        assert abs(sum(r.share for r in rs) - 1.0) < 1e-4


def test_distinct_arithmetic_consistency(spark):
    """sum_distinct <= sum_all; avg_distinct = sum_distinct /
    n_distinct; distinct count bounded by the quantity domain."""
    import pro_etl_spark
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    for r in qs["agg_distinct_arithmetic"](spark, SF_ORACLE).collect():
        assert r.sum_distinct_qty <= r.sum_all
        assert abs(
            r.avg_distinct_qty - round(r.sum_distinct_qty / r.n_distinct_qty, 6)
        ) < 1e-6
        assert 1 <= r.n_distinct_qty <= 50


def test_top_movers_are_the_extremes(spark):
    """Exactly K rows per type with dense ranks, and rank 1 carries
    the largest |pct_change| of its type's returned set."""
    import pro_etl_spark
    from pro_etl_spark.ops.analytics import TOP_MOVERS_K
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    by_type = {}
    for r in qs["events_top_movers"](spark, SF_ORACLE).collect():
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r.move_rank)
        assert [r.move_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOP_MOVERS_K
        mags = [abs(r.pct_change) for r in rs]
        assert mags == sorted(mags, reverse=True)


def test_template_families_verified(spark):
    """Every reported family must contain >= 2 docs that genuinely
    share the identical 8-token prefix, and the exemplar is its
    minimum member."""
    import pro_etl_spark
    from pro_etl_spark.ops.corpus import TEMPLATE_PREFIX_TOKENS
    from tests.conftest import SF_ORACLE

    qs = pro_etl_spark.get_queries()
    fams = qs["corpus_template_prefix"](spark, SF_ORACLE).collect()
    assert fams
    docs = {
        r.doc_id: tuple(r.text.split()[:TEMPLATE_PREFIX_TOKENS])
        for r in spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    by_prefix = {}
    for doc, p in docs.items():
        if len(p) == TEMPLATE_PREFIX_TOKENS:
            by_prefix.setdefault(p, []).append(doc)
    true_fams = {
        min(ds): len(ds) for ds in by_prefix.values() if len(ds) > 1
    }
    got = {f.exemplar_doc: f.n_docs for f in fams}
    assert got == true_fams
