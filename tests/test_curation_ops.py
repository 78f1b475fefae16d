"""Round-5 curation operators: cross-document duplicate-span scan,
unigram-LM cross-entropy scoring, and domain-mixture sampling — edge
semantics on hand-built corpora (the driver's DuckDB oracle covers the
sf0.01 hash parity; these pin the behaviors the oracle can't isolate)."""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import pandas as pd
import pytest

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def span_dir():
    """Tiny corpus with known k-gram (k=5) sharing structure:
    - doc 0 and doc 1 share one 5-gram span ("a b c d e");
    - doc 2 repeats a 5-gram WITHIN itself only ("p q r s t" twice);
    - doc 3 has < 5 tokens (no grams at all);
    - doc 4 shares nothing."""
    d = tempfile.mkdtemp(prefix="talna_spans_")
    rows = [
        {"doc_id": 0, "text": "a b c d e x1 y1 z1"},
        {"doc_id": 1, "text": "w1 w2 a b c d e"},
        {"doc_id": 2, "text": "p q r s t p q r s t"},
        {"doc_id": 3, "text": "too few words"},
        {"doc_id": 4, "text": "m n o u v k1 k2 k3"},
    ]
    pd.DataFrame(rows).to_parquet(os.path.join(d, "documents.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_dup_spans_cross_doc_only(spark, span_dir):
    from talna_spark.pipeline.dedup import dup_spans

    out = {r["doc_id"]: r for r in dup_spans(spark, span_dir).collect()}
    assert set(out) == {0, 1, 2, 3, 4}

    # doc 0: 8 tokens -> 4 grams; exactly one ("a b c d e") is shared
    assert out[0]["n_grams"] == 4 and out[0]["dup_positions"] == 1
    assert out[0]["dup_fraction"] == 0.25
    # doc 1: 7 tokens -> 3 grams; the shared gram is at position 3
    assert out[1]["n_grams"] == 3 and out[1]["dup_positions"] == 1
    # doc 2: within-doc repetition alone must NOT mark positions
    # (that signal is pipeline.text.repetition) — 10 tokens -> 6 grams
    assert out[2]["n_grams"] == 6 and out[2]["dup_positions"] == 0
    # doc 3: under k tokens -> zero grams, zero fraction (no div-by-zero)
    assert out[3]["n_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    # doc 4: unique content
    assert out[4]["dup_positions"] == 0


def test_lm_score_matches_hand_computation(spark, span_dir):
    """Add-one unigram cross-entropy recomputed in pure Python for the
    same corpus, including the per-token micro-nat rounding."""
    from talna_spark.pipeline.scan import read_documents  # same reader
    from talna_spark.pipeline.text import lm_score

    texts = {
        r["doc_id"]: r["text"].lower().strip().split()
        for r in read_documents(spark, span_dir, "doc_id", "text").collect()
    }
    counts: dict[str, int] = {}
    for toks in texts.values():
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
    n_total = sum(counts.values())
    v_size = len(counts)

    def expected(toks):
        micro = sum(
            int(round(-math.log((counts[t] + 1.0) / (n_total + v_size)) * 1e6))
            for t in toks
        )
        return round(micro / (len(toks) * 1e6), 6)

    out = {r["doc_id"]: r for r in lm_score(spark, span_dir).collect()}
    for doc_id, toks in texts.items():
        assert out[doc_id]["n_tokens"] == len(toks)
        assert out[doc_id]["xent"] == pytest.approx(expected(toks), abs=1e-9)

    # the doc made of twice-repeated (hence higher-count) tokens scores
    # LOWER cross-entropy than the all-unique docs
    assert out[2]["xent"] < out[4]["xent"]


def test_mixture_sample_rates_and_determinism(spark):
    from talna_spark.pipeline.sampling import (
        MIX_BUDGET_FRACTION,
        mixture_sample,
    )

    a = mixture_sample(spark, SF).collect()
    b = mixture_sample(spark, SF).collect()
    # deterministic: same rows, independent of run
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0

    # each kept doc's keep_ppm matches the closed-form per-source rate
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs["n_tokens"] = docs["text"].str.lower().str.strip().str.split().map(len)
    per = docs.groupby("source")["n_tokens"].sum()
    weights = {s: 1 + int("".join(filter(str.isdigit, s))) % 3 for s in per.index}
    budget = math.floor(per.sum() * MIX_BUDGET_FRACTION)
    w_all = sum(weights.values())
    for r in a:
        rate = min(1.0, float(budget) * weights[r["source"]] / w_all / per[r["source"]])
        assert r["keep_ppm"] == math.floor(rate * 1_000_000)

    # achieved mixture leans toward the weights: every source is present
    # and the total kept tokens are within a loose band of the budget
    kept = pd.DataFrame([r.asDict() for r in a])
    assert set(kept["source"]) == set(per.index)
    total_kept = kept["n_tokens"].sum()
    assert 0.6 * budget < total_kept < 1.4 * budget


def test_alpha_mixture_flattens_and_matches_closed_form(spark):
    import pytest as _pt

    from talna_spark.pipeline.sampling import (
        MIX_BUDGET_FRACTION,
        alpha_mixture_sample,
        mixture_sample,
    )

    a = alpha_mixture_sample(spark, SF).collect()
    assert len(a) > 0

    # closed-form recompute: w_s = floor(sqrt(t_s) * 1e6), same budget
    # arithmetic as mixture_sample
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs["n_tokens"] = (
        docs["text"].str.lower().str.strip().str.split().map(len)
    )
    per = docs.groupby("source")["n_tokens"].sum()
    weights = {s: math.floor(math.sqrt(float(t)) * 1e6) for s, t in per.items()}
    budget = math.floor(per.sum() * MIX_BUDGET_FRACTION)
    w_all = sum(weights.values())
    ppm = {}
    for r in a:
        rate = min(
            1.0,
            float(budget) * weights[r["source"]] / w_all / per[r["source"]],
        )
        ppm[r["source"]] = r["keep_ppm"]
        assert r["keep_ppm"] == math.floor(rate * 1_000_000)

    # temperature flattening: among uncapped sources, keep-rates order
    # INVERSELY to corpus share (smaller domains keep a larger fraction)
    uncapped = sorted(
        (s for s in ppm if ppm[s] < 1_000_000), key=lambda s: per[s]
    )
    rates_by_size = [ppm[s] for s in uncapped]
    assert rates_by_size == sorted(rates_by_size, reverse=True)

    # nested with mixture_sample (shared 'mix|' hash stream): per
    # source, the lower-rate sampler's keeps are a subset of the
    # higher-rate sampler's
    m = mixture_sample(spark, SF).collect()
    m_ppm = {r["source"]: r["keep_ppm"] for r in m}
    m_kept = {}
    a_kept = {}
    for r in m:
        m_kept.setdefault(r["source"], set()).add(r["doc_id"])
    for r in a:
        a_kept.setdefault(r["source"], set()).add(r["doc_id"])
    for s in set(m_ppm) & set(ppm):
        lo, hi = (
            (a_kept.get(s, set()), m_kept.get(s, set()))
            if ppm[s] <= m_ppm[s]
            else (m_kept.get(s, set()), a_kept.get(s, set()))
        )
        assert lo <= hi

    with _pt.raises(ValueError):
        alpha_mixture_sample(spark, SF, alpha=0.0)


def test_alpha_mixture_matches_duckdb_oracle(spark):
    import duckdb

    from talna_spark.pipeline.sampling import (
        alpha_mixture_sample,
        alpha_mixture_sample_sql,
    )

    got = sorted(
        map(tuple, alpha_mixture_sample(spark, SF).collect())
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(alpha_mixture_sample_sql()).fetchall()))
    con.close()
    assert got == want


def test_doremi_high_excess_domain_gains_weight(spark, tmp_path):
    """The DoReMi semantic contract: a domain whose text is much more
    predictable under the bigram reference than the unigram proxy
    (high excess loss = learnable structure) earns a HIGHER weight and
    keep-rate than a word-salad domain of the same size."""
    from talna_spark.pipeline.sampling import (
        doremi_mixture_sample,
        doremi_weights,
    )

    # Both domains share ONE 20-word vocabulary, so the unigram proxy
    # sees them identically; only word ORDER differs. structured walks
    # the same chain every doc (bigrams near-deterministic -> the
    # bigram reference wins big -> high excess); salad scrambles the
    # order per doc (each bigram ~unique -> the reference gains nothing
    # -> low/negative excess). Seeded shuffle: fixture-determinism.
    import random

    words = [f"w{i}" for i in range(20)]
    chain = " ".join(words)
    rows = []
    for i in range(12):
        rows.append((i, chain, "en", "structured", 1))
        shuffled = words[:]
        random.Random(i).shuffle(shuffled)
        rows.append((100 + i, " ".join(shuffled), "en", "salad", 1))
    d = str(tmp_path / "doremi")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    w = {r["source"]: r for r in doremi_weights(spark, d).collect()}
    assert w["structured"]["excess_micro"] > w["salad"]["excess_micro"]
    assert w["structured"]["w_s"] > w["salad"]["w_s"]

    kept = doremi_mixture_sample(spark, d).collect()
    ppm = {r["source"]: r["keep_ppm"] for r in kept}
    # equal-size domains, so the higher weight is visible in the rate
    # unless both cap at 1.0 — this corpus leaves headroom (budget 50%)
    assert ppm["structured"] > ppm["salad"]

    import pytest as _pt

    with _pt.raises(ValueError, match="temperature"):
        doremi_weights(spark, d, temperature=0.0)


def test_doremi_matches_duckdb_oracle(spark):
    import duckdb

    from talna_spark.pipeline.sampling import (
        doremi_mixture_sample,
        doremi_mixture_sample_sql,
    )

    got = sorted(map(tuple, doremi_mixture_sample(spark, SF).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF}/documents.parquet'"
    )
    want = sorted(
        map(tuple, con.execute(doremi_mixture_sample_sql()).fetchall())
    )
    con.close()
    assert got == want
    assert len(got) > 0


def test_x01_text_signals_slices(spark):
    """The consolidated registration carries all six signals with the
    documented null-pattern per slice."""
    import __spark_entry__ as entry

    df = entry.queries()["x01_text_signals"](spark, SF)
    pdf = df.toPandas()
    assert set(pdf["kind"]) == {
        "tokens", "quality", "langid", "langid_learned", "fingerprint",
        "unicode", "redact", "chunk", "script", "nfc"
    }
    n_docs = pdf[pdf["kind"] == "tokens"].shape[0]
    assert all(pdf[pdf["kind"] == k].shape[0] == n_docs for k in
               ("quality", "langid", "langid_learned", "fingerprint",
                "unicode", "redact", "script", "nfc"))
    # chunk is the one multi-row-per-doc slice: >= one chunk per doc
    assert pdf[pdf["kind"] == "chunk"].shape[0] >= n_docs
    assert pdf[pdf["kind"] == "langid"]["s1"].notna().all()
    assert pdf[pdf["kind"] == "langid_learned"]["s1"].notna().all()
    assert pdf[pdf["kind"] == "fingerprint"]["s1"].notna().all()
    assert pdf[pdf["kind"] == "tokens"]["s1"].isna().all()
    # redact: s1 = md5 of the redacted text, always present
    assert pdf[pdf["kind"] == "redact"]["s1"].str.len().eq(32).all()


def test_script_id_detects_every_script(spark, tmp_path):
    """Dominant-script routing: one doc per script family, mixed-script
    dominance ratios, the alphabetical tie-break, the 'none' class for
    unscripted/NULL text — and the DuckDB twin row-identical (the Java
    \\uXXXX vs RE2 \\x{...} character classes must count the same)."""
    import duckdb
    import pandas as pd

    from talna_spark.pipeline.text import script_id, script_id_sql

    rows = [
        (0, "Hello wonderful world of Latin text"),
        (1, "Привет мир это кириллица здесь"),
        (2, "Γειά σου κόσμε ελληνικά"),
        (3, "你好世界这是汉字文本"),
        (4, "こんにちは世界 カタカナもある"),  # kana majority over han
        (5, "안녕하세요 세계"),
        (6, "مرحبا بالعالم نص عربي"),
        (7, "नमस्ते दुनिया देवनागरी"),
        (8, "1234 ... !!! 5678"),
        (9, None),
        (10, "ab аб"),  # 2 latin vs 2 cyrillic -> tie -> alphabetical
    ]
    d = str(tmp_path / "scripts")
    import os

    os.makedirs(d)
    pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    ).to_parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r for r in script_id(spark, d).collect()}
    want_scripts = {
        0: "latin", 1: "cyrillic", 2: "greek", 3: "han", 4: "kana",
        5: "hangul", 6: "arabic", 7: "devanagari", 8: "none", 9: "none",
        10: "cyrillic",
    }
    for did, sc in want_scripts.items():
        assert got[did]["script"] == sc, (did, got[did])
    assert got[4]["script_ratio"] == 0.857143  # 12 kana / 14 scripted
    assert got[10]["script_ratio"] == 0.5
    assert got[8]["scripted_chars"] == 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    oracle = sorted(map(tuple, con.execute(script_id_sql()).fetchall()))
    ours = sorted(
        (r["doc_id"], r["script"], r["script_chars"],
         r["scripted_chars"], r["script_ratio"])
        for r in got.values()
    )
    assert ours == oracle


def test_dup_span_clean_trims_covered_tokens(spark, span_dir):
    """Removal = every token covered by a cross-doc duplicated 5-gram;
    within-doc repetition and unique content survive untouched."""
    import hashlib

    from talna_spark.pipeline.dedup import dup_span_clean

    out = {r["doc_id"]: r for r in dup_span_clean(spark, span_dir).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 0 "a b c d e x1 y1 z1": gram "a b c d e" is shared with doc 1
    # -> tokens 0..4 trimmed, tail kept
    assert out[0]["kept_tokens"] == 3 and out[0]["removed_tokens"] == 5
    assert out[0]["clean_hash"] == h("x1 y1 z1")
    # doc 1 "w1 w2 a b c d e": the shared gram covers tokens 2..6
    assert out[1]["clean_hash"] == h("w1 w2")
    # doc 2: within-doc-only repetition -> nothing trimmed
    assert out[2]["removed_tokens"] == 0
    assert out[2]["clean_hash"] == h("p q r s t p q r s t")
    # doc 3: under k tokens -> no grams, nothing trimmed
    assert out[3]["kept_tokens"] == 3 and out[3]["removed_tokens"] == 0
    # doc 4: unique -> untouched
    assert out[4]["removed_tokens"] == 0


def test_new_ops_partitioning_independent(spark, span_dir):
    """dup_spans / dup_span_clean / lm_score results must not depend on
    how the source file is partitioned (the retry/cluster-resize
    invariant every curation decision needs)."""
    import tempfile as _tf

    from talna_spark.pipeline.dedup import dup_span_clean, dup_spans
    from talna_spark.pipeline.text import lm_score

    base = {
        "spans": sorted(map(tuple, dup_spans(spark, span_dir).collect())),
        "clean": sorted(map(tuple, dup_span_clean(spark, span_dir).collect())),
        "lm": sorted(map(tuple, lm_score(spark, span_dir).collect())),
    }
    d2 = _tf.mkdtemp(prefix="talna_rp_")
    try:
        (
            spark.read.parquet(f"{span_dir}/documents.parquet")
            .repartition(5)
            .write.parquet(f"{d2}/documents.parquet")
        )
        # repartition-independence ALSO under the shared scan fan-out
        # (r6: the env knob replaced the per-op parallelism params)
        import os as _os

        _os.environ["TALNA_MIN_SCAN_TASKS"] = "3"
        try:
            assert sorted(map(tuple, dup_spans(spark, d2).collect())) == base["spans"]
            assert sorted(map(tuple, dup_span_clean(spark, d2).collect())) == base["clean"]
        finally:
            del _os.environ["TALNA_MIN_SCAN_TASKS"]
        assert sorted(map(tuple, lm_score(spark, d2).collect())) == base["lm"]
    finally:
        import shutil as _sh

        _sh.rmtree(d2, ignore_errors=True)


def test_dsir_ranks_target_like_docs_first(spark, tmp_path):
    """DSIR: raw docs sharing the target slice's vocabulary must outrank
    raw docs with disjoint vocabulary; target docs never appear; weights
    match the DuckDB twin exactly."""
    import duckdb

    from talna_spark.pipeline.sampling import dsir_select, dsir_select_sql

    target_text = "solve the integral by parts and check the derivative"
    like_text = "check the integral and solve the parts by derivative rules"
    unlike_text = "zzz qqq www eee rrr ttt yyy uuu iii ooo"
    rows = [
        (0, target_text, "src0"),       # 0 % 97 == 0 -> target
        (97, target_text, "src0"),      # target
        (1, like_text, "src0"),         # raw, target-like
        (2, like_text + " extra", "src0"),
        (3, unlike_text, "src1"),       # raw, disjoint vocab
        (4, unlike_text + " more", "src1"),
    ]
    d = str(tmp_path / "dsir")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{d}/documents.parquet")

    out = {r["doc_id"]: r for r in dsir_select(spark, d, k_select=10).collect()}
    assert set(out) == {1, 2, 3, 4}, "raw pool only — targets never selected"
    like_ranks = {out[1]["rank"], out[2]["rank"]}
    unlike_ranks = {out[3]["rank"], out[4]["rank"]}
    assert max(like_ranks) < min(unlike_ranks), (
        f"target-like docs must rank first: {like_ranks} vs {unlike_ranks}"
    )
    assert out[1]["weight_micro"] > out[3]["weight_micro"]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {
        row[0]: row
        for row in con.execute(dsir_select_sql(k_select=10)).fetchall()
    }
    for did, r in out.items():
        assert oracle[did] == (
            did, r["n_grams"], r["weight_micro"], r["rank"]
        ), f"doc {did}: {oracle[did]} vs spark row"


def test_gopher_rules_per_rule_bits(spark, tmp_path):
    """Each Gopher rule trips its own fail_mask bit on a doc built to
    violate exactly that rule; a compliant doc passes clean; engines
    agree bit-for-bit."""
    import duckdb

    from talna_spark.pipeline.text import (
        GOPHER_RULE_NAMES, gopher_rules, gopher_rules_sql,
    )

    good_body = ("the quick brown fox jumps over a lazy dog and then "
                 "runs far away to find more food for the winter den ") * 3
    rows = [
        (1, good_body, "src0"),                      # passes everything
        (2, "the a word", "src0"),                   # too few words -> bit 0
        (3, ("pneumonoultramicroscopic " * 60) + "the a", "src0"),  # bit 1
        (4, good_body + " " + "#" * 40, "src0"),     # symbol ratio -> bit 2
        (5, "\n".join("- the a item" for _ in range(10)) + "\n"
            + good_body.replace("\n", " "), "src0"),  # bullet lines -> bit 3
        (6, "\n".join(f"the a line {i} trails off..." for i in range(10))
            + "\n" + good_body, "src0"),              # ellipsis lines -> bit 4
        (7, ("123 456 789 000 " * 15) + "the a", "src0"),  # alpha frac -> bit 5
        (8, "zzz qqq www " * 20, "src0"),             # no req stopwords -> bit 6
    ]
    d = str(tmp_path / "gopher")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{d}/documents.parquet")

    out = {r["doc_id"]: r for r in gopher_rules(spark, d).collect()}
    assert out[1]["fail_mask"] == 0 and out[1]["verdict"] == "pass"
    expect_bit = {2: 0, 3: 1, 4: 2, 5: 3, 6: 4, 7: 5, 8: 6}
    for did, bit in expect_bit.items():
        mask = out[did]["fail_mask"]
        assert mask & (1 << bit), (
            f"doc {did} should trip rule {GOPHER_RULE_NAMES[bit]}: mask={mask:b}"
        )
    assert len(GOPHER_RULE_NAMES) == 7

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {row[0]: row for row in con.execute(gopher_rules_sql()).fetchall()}
    for did, r in out.items():
        assert oracle[did] == (
            did, r["n_words"], r["fail_mask"], r["n_failed"], r["verdict"]
        ), f"doc {did} engine mismatch"


def test_compression_ratio_matches_stdlib_and_separates_tails(spark, tmp_path):
    """compression_ratio: exact agreement with a doc-by-doc stdlib
    recompute (the unit-oracle), and the signal separates repetitive
    text (high ratio) from incompressible junk (ratio ~1)."""
    import zlib

    from talna_spark.pipeline.text import compression_ratio

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    out = {r["doc_id"]: r for r in compression_ratio(spark, sf).collect()}
    assert set(out) == set(docs)
    for did, text in docs.items():
        raw = text.encode("utf-8")
        z = zlib.compress(raw, 6)
        r = out[did]
        assert (r["n_bytes"], r["n_zbytes"]) == (len(raw), len(z))
        assert r["ratio"] == round(len(raw) / len(z), 6)

    import os
    rows = [
        (1, "spam ham " * 400, "src0"),                       # repetitive
        (2, os.urandom(1600).hex(), "src0"),                  # incompressible
    ]
    d = str(tmp_path / "cr")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{d}/documents.parquet")
    tails = {r["doc_id"]: r["ratio"] for r in compression_ratio(spark, d).collect()}
    assert tails[1] > 10, f"repetitive text should compress hard: {tails}"
    assert tails[2] < 2.2, f"random hex should barely compress: {tails}"


def test_c4_rules_per_rule_bits(spark, tmp_path):
    """Each C4 rule trips its own fail_mask bit on a doc built to
    violate exactly that rule; a compliant doc passes clean; engines
    agree bit-for-bit."""
    import duckdb

    from talna_spark.pipeline.text import (
        C4_RULE_NAMES, c4_rules, c4_rules_sql,
    )

    # every line ends in '.', has >= 5 words, no javascript; > 3 sentences
    good_body = "\n".join(
        "the quick brown fox jumps over the lazy dog." for _ in range(6)
    )
    rows = [
        (1, good_body, "src0"),                         # passes everything
        (2, "one sentence only here today.", "src0"),   # < 3 sentences -> bit 0
        (3, good_body + "\nlorem ipsum dolor sit amet more.", "src0"),  # bit 1
        (4, good_body + "\nfunction f() { return one two three. }", "src0"),  # bit 2
        (5, good_body + "\nplease read our privacy policy before use.", "src0"),  # bit 3
        (6, "\n".join("no terminal punctuation on this line" for _ in range(9))
            + "\n" + good_body[: len(good_body) // 2] + ".", "src0"),  # bit 4
    ]
    d = str(tmp_path / "c4")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{d}/documents.parquet")

    out = {r["doc_id"]: r for r in c4_rules(spark, d).collect()}
    assert out[1]["fail_mask"] == 0 and out[1]["verdict"] == "pass"
    expect_bit = {2: 0, 3: 1, 4: 2, 5: 3, 6: 4}
    for did, bit in expect_bit.items():
        mask = out[did]["fail_mask"]
        assert mask & (1 << bit), (
            f"doc {did} should trip rule {C4_RULE_NAMES[bit]}: mask={mask:b}"
        )
    assert len(C4_RULE_NAMES) == 5

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {row[0]: row for row in con.execute(c4_rules_sql()).fetchall()}
    for did, r in out.items():
        assert oracle[did] == (
            did, r["kept_line_frac"], r["fail_mask"], r["n_failed"],
            r["verdict"]
        ), f"doc {did} engine mismatch"


def test_unicode_signals_damage_cases(spark, tmp_path):
    """Encoding-damage scan: replacement chars, C0 controls (tab/newline
    excluded) and non-ASCII density each measured on a doc built to show
    exactly that damage; engines agree to the rounded digit."""
    import duckdb

    from talna_spark.pipeline.text import unicode_signals, unicode_signals_sql

    rows = [
        (1, "clean ascii text only.", "en", "s", 1),
        (2, "dam�aged te�xt here", "en", "s", 1),
        (3, "ctrl\x01chars\x07and\x1fmore\tok\nfine", "en", "s", 1),
        (4, "héllo wörld 中文", "en", "s", 1),
        (5, "", "en", "s", 1),
        # r6: DEL + C1 band (U+0085 NEL, U+009F — the cp1252 mojibake
        # range) now count as controls too
        (6, "del\x7fand c1\x85band\x9fhere", "en", "s", 1),
    ]
    d = str(tmp_path / "uni")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in unicode_signals(spark, d).collect()}
    assert got[1]["replacement_ratio"] == 0.0 and got[1]["ctrl_count"] == 0
    assert got[2]["replacement_ratio"] > 0.1
    assert got[3]["ctrl_count"] == 3  # \t and \n do NOT count
    assert got[4]["nonascii_ratio"] > 0.2 and got[4]["ctrl_count"] == 0
    assert got[5]["replacement_ratio"] == 0.0  # empty text: guarded /1
    assert got[6]["ctrl_count"] == 3  # \x7f + \x85 + \x9f (r6: C1 band)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {row[0]: row for row in con.execute(unicode_signals_sql()).fetchall()}
    for did, r in got.items():
        assert oracle[did] == (
            did, r["replacement_ratio"], r["ctrl_count"], r["nonascii_ratio"]
        ), f"doc {did} engine mismatch"


def test_reservoir_sample_exact_k_nested_and_stable(spark, tmp_path):
    """reservoir_sample: exactly k rows per group (or the whole group
    when smaller), k=5 winners are a prefix of k=10 winners (the nested
    reservoir property), membership survives repartitioning, and the
    driver pair agrees with DuckDB."""
    import duckdb

    from talna_spark.pipeline.sampling import (
        RESERVOIR_K, reservoir_docs, reservoir_docs_sql, reservoir_sample,
    )

    rows = [(i, f"g{i % 3}") for i in range(40)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    s5 = reservoir_sample(df, "doc_id", "source", 5)
    got5 = {(r["doc_id"], r["source"]) for r in s5.collect()}
    counts = {}
    for _, g in got5:
        counts[g] = counts.get(g, 0) + 1
    assert counts == {"g0": 5, "g1": 5, "g2": 5, "tiny": 1}

    got10 = {(r["doc_id"], r["source"])
             for r in reservoir_sample(df, "doc_id", "source", 10).collect()}
    assert got5 <= got10  # nested: growing k never evicts a winner

    reparted = {
        (r["doc_id"], r["source"])
        for r in reservoir_sample(
            df.repartition(7), "doc_id", "source", 5
        ).collect()
    }
    assert reparted == got5  # partitioning-independent

    d = str(tmp_path / "res")
    df.selectExpr(
        "doc_id", "'x' AS text", "'en' AS lang", "source", "1 AS n_chars"
    ).write.parquet(f"{d}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["source"], r["sample_rank"])
        for r in reservoir_docs(spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    want = sorted(map(tuple, con.execute(reservoir_docs_sql()).fetchall()))
    assert got == want
    assert max(r[2] for r in got) <= RESERVOIR_K


def test_lm_bigram_sees_context_unigram_cannot(spark, tmp_path):
    """The interpolated bigram model's reason to exist: a doc whose
    words are corpus-common but whose ORDER is scrambled scores higher
    xent2 than the naturally-ordered docs with the identical unigram
    profile; engines agree exactly."""
    import duckdb

    from talna_spark.pipeline.text import lm_score_bigram, lm_score_bigram_sql

    natural = "the cat sat on the mat and the dog ran to the den"
    # same multiset of words, scrambled order -> same unigram stats
    salad = "mat the ran cat the den on dog sat the to and the"
    rows = [(i, natural, "en", "s", 1) for i in range(5)]
    rows.append((99, salad, "en", "s", 1))
    d = str(tmp_path / "lm2")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in lm_score_bigram(spark, d).collect()}
    assert got[0]["n_tokens"] == len(natural.split())
    assert got[99]["xent2"] > got[0]["xent2"] + 0.3, (
        got[99]["xent2"], got[0]["xent2"]
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {row[0]: row for row in con.execute(lm_score_bigram_sql()).fetchall()}
    for did, r in got.items():
        assert oracle[did] == (did, r["n_tokens"], r["xent2"]), did


def test_lm3_context_sensitivity_beyond_bigrams(spark, tmp_path):
    """The test lm2 CANNOT pass (VERDICT r5 item 8): two documents with
    IDENTICAL bigram multisets but different trigram order — 'a b a c
    a d' vs 'a c a b a d' (both have pairs {ab, ba, ac, ca, ad}).
    The corpus makes the first ordering frequent; the bigram model
    assigns both docs the same score by construction, while the
    trigram-KN model must score the common ordering strictly lower."""
    import duckdb

    from talna_spark.pipeline.text import (
        lm_score_bigram, lm_score_trigram_kn, lm_score_trigram_kn_sql,
    )

    rows = [(i, "a b a c a d", "en", "s", 11) for i in range(10)]
    rows.append((100, "a c a b a d", "en", "s", 11))
    d = str(tmp_path / "lm3")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    lm2 = {r["doc_id"]: r["xent2"] for r in lm_score_bigram(spark, d).collect()}
    assert lm2[0] == lm2[100], "bigram multiset identical => lm2 blind"

    lm3 = {r["doc_id"]: r["xent3"] for r in lm_score_trigram_kn(spark, d).collect()}
    assert lm3[0] < lm3[100], "trigram KN must prefer the frequent ordering"

    # cross-engine on the same fixture
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = {r[0]: r[2] for r in con.execute(lm_score_trigram_kn_sql()).fetchall()}
    for did, x in lm3.items():
        assert oracle[did] == x, (did, oracle[did], x)


def test_lm3_kneser_ney_continuation_demotes_collocation_tokens(spark, tmp_path):
    """KN's signature behavior: a token frequent ONLY inside one fixed
    collocation ('francisco' after 'san') gets a LOW continuation
    unigram even though its raw count is high. Scored at position 1
    (where only the continuation unigram applies), such a token must
    cost more nats than an equally-frequent token with many distinct
    predecessors."""
    from talna_spark.pipeline.text import lm_score_trigram_kn

    rows = [
        (i, f"ctx{i} deal ctx{i + 50} deal san francisco", "en", "s", 1)
        for i in range(8)
    ]
    # probe docs: position 1 is the token under test
    rows.append((200, "francisco deal", "en", "s", 1))
    rows.append((201, "deal francisco", "en", "s", 1))
    d = str(tmp_path / "kn")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    # 'francisco' appears 9x, always after 'san' (cont=2: 'san' and
    # 'deal' from doc 201); 'deal' appears many times after MANY
    # distinct predecessors (cont >> 2). First-position cost must be
    # higher for the collocation-bound token.
    out = {r["doc_id"]: r["xent3"] for r in lm_score_trigram_kn(spark, d).collect()}
    assert out[200] > out[201]


def test_mixture_upsample_integer_epochs(spark):
    """Uncapped mixture: a small high-weight domain repeats (copies >= 1
    with some 2s), an oversized low-weight domain sheds docs (copies 0/1),
    expected token mass per domain = rate * t_s, and the whole corpus
    emits ~one epoch."""
    import os
    import shutil
    import tempfile

    import pandas as pd

    from talna_spark.pipeline.sampling import mixture_upsample

    d = tempfile.mkdtemp(prefix="talna_upsample_")
    rows = []
    did = 0
    # src2: weight 3 (2 % 3 + 1), 10 short docs  -> rate >> 1
    for _ in range(10):
        rows.append({"doc_id": did, "source": "src2", "text": "a b c d"})
        did += 1
    # src0: weight 1, 40 long docs -> rate < 1
    for _ in range(40):
        rows.append(
            {"doc_id": did, "source": "src0", "text": "w x y z " * 5}
        )
        did += 1
    pd.DataFrame(rows).to_parquet(os.path.join(d, "documents.parquet"))
    try:
        out = mixture_upsample(spark, d).toPandas()
        t2 = out[out.source == "src2"]
        t0 = out[out.source == "src0"]
        # t_all = 10*4 + 40*20 = 840; w: src2=3, src0=1, w_all=4
        # rate(src2) = 840*3/(4*40)  = 15.75 -> every doc >= 15 copies
        # rate(src0) = 840*1/(4*800) = 0.2625 -> copies in {0, 1}
        assert (t2.rate_ppm == 15_750_000).all()
        assert set(t2.copies) <= {15, 16} and (t2.copies >= 15).all()
        assert (t0.rate_ppm == 262_500).all()
        assert set(t0.copies) <= {0, 1}
        # one full epoch in expectation, exact per the quantized rates
        emitted = (out.copies * out.n_tokens).sum()
        assert abs(emitted - 840) / 840 < 0.25  # hash-threshold variance
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_mixture_upsample_single_source_is_one_epoch_exact(spark):
    """One domain: rate is exactly 1.0 (ppm = 1e6), fractional part 0,
    so EVERY doc gets exactly one copy — no hash randomness at all."""
    import os
    import shutil
    import tempfile

    import pandas as pd

    from talna_spark.pipeline.sampling import mixture_upsample

    d = tempfile.mkdtemp(prefix="talna_up1_")
    pd.DataFrame(
        [{"doc_id": i, "source": "src0", "text": f"doc {i} words here"}
         for i in range(20)]
    ).to_parquet(os.path.join(d, "documents.parquet"))
    try:
        out = mixture_upsample(spark, d).toPandas()
        assert (out.rate_ppm == 1_000_000).all()
        assert (out.copies == 1).all()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_script_gate(spark):
    """r10 keep_scripts: docs whose dominant script falls outside the
    kept set become 'script_filtered' (before the language gate, after
    quality/classifier); the default path stays byte-identical, and
    the filter is a pure map-side expression (no new join)."""
    from talna_spark.pipeline.curate import curate
    from talna_spark.pipeline.text import script_id

    SF = "/root/testdata/sf0.001"
    base = {r["doc_id"]: r["verdict"] for r in curate(spark, SF).collect()}
    scripts = {
        r["doc_id"]: r["script"] for r in script_id(spark, SF).collect()
    }
    present = {scripts[d] for d in base}
    assert present, "no scripts detected in testdata"
    keep = {sorted(present)[0]}  # keep one script family
    gated = {
        r["doc_id"]: r["verdict"]
        for r in curate(spark, SF, keep_scripts=keep).collect()
    }
    assert set(base) == set(gated)
    for d, v in gated.items():
        if v == "script_filtered":
            assert scripts[d] not in keep
            assert base[d] in ("duplicate", "contaminated", "kept")
        elif v == "kept":
            assert scripts[d] in keep
            assert base[d] == "kept"
        elif v in ("low_quality", "classifier_reject"):
            assert v == base[d]
    # keeping every present script (+ none) changes nothing
    all_gated = {
        r["doc_id"]: r["verdict"]
        for r in curate(
            spark, SF, keep_scripts=present | {"none"}
        ).collect()
    }
    assert all_gated == base


def test_stream_curate_script_gate(spark, tmp_path):
    """The streaming script gate drops exactly the docs whose dominant
    script is outside keep_scripts — applied on the stream itself (a
    row-wise expression, not a foreachBatch plan)."""
    from pyspark.sql import functions as F

    from talna_spark.streaming.documents import stream_curate

    good = ("the quick brown fox jumps over a lazy dog and then "
            "runs far away to find more food for the winter den ") * 3
    schema = "doc_id long, text string, source string"
    batch = [
        (1, good + "latin tail stays here", "s"),
        (2, good + "кириллица " * 40, "s"),  # cyrillic-dominant
    ]
    bdf = spark.createDataFrame(batch, schema)
    reference = spark.createDataFrame(
        [(900, good + "only in the reference", "ref")], schema
    )
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    bdf.write.mode("append").parquet(src)
    q = stream_curate(
        spark.readStream.schema(schema).parquet(src),
        reference, out, ckpt, keep_scripts={"latin"},
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1}


def test_doremi_iterated_round1_matches_one_shot(spark):
    """Uniform-init round 1 of the full loop must reproduce the
    one-shot table: the +1-average-weight smoothing makes the
    uniformly-weighted proxy bit-identical to lm_score, so the excess
    aggregate — and hence the weights up to the shared ppm floor — is
    the SAME number both paths."""
    from talna_spark.pipeline.sampling import (
        doremi_weights, doremi_weights_iterated,
    )

    sf = "/root/testdata/sf0.001"
    one = {
        r["source"]: (r["excess_micro"], r["w_s"])
        for r in doremi_weights(spark, sf).collect()
    }
    w1, hist = doremi_weights_iterated(spark, sf, rounds=1, eta=1.0)
    assert len(hist) == 1
    assert hist[0] == {s: em for s, (em, _w) in one.items()}
    # weights proportional: iterated renormalizes to mean 1e6, so
    # compare ratios against the one-shot table (integer floors give
    # <= 2 ppm relative slack)
    import math

    tot_one = sum(w for _e, w in one.values())
    tot_it = sum(w1.values())
    for s, (_e, w) in one.items():
        a = w / tot_one
        b = w1[s] / tot_it
        assert math.isclose(a, b, rel_tol=5e-6), (s, a, b)


def test_doremi_iterated_amplifies_high_excess_domain(spark, tmp_path):
    """Over rounds, a domain with persistently positive excess gains
    weight monotonically relative to a persistently lower-excess
    domain — the exponentiated-gradient direction."""
    import random

    from talna_spark.pipeline.sampling import doremi_weights_iterated

    words = [f"w{i}" for i in range(20)]
    chain = " ".join(words)
    rows = []
    for i in range(12):
        rows.append((i, chain, "en", "structured", 1))
        shuffled = words[:]
        random.Random(i).shuffle(shuffled)
        rows.append((100 + i, " ".join(shuffled), "en", "salad", 1))
    d = str(tmp_path / "doremi_it")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    ratios = []
    for rounds in (1, 2, 3):
        w, _h = doremi_weights_iterated(spark, d, rounds=rounds, eta=2.0)
        ratios.append(w["structured"] / w["salad"])
    assert ratios[0] > 1.0
    assert ratios[0] <= ratios[1] <= ratios[2], ratios

    import pytest as _pt

    from talna_spark.pipeline.sampling import doremi_mixture_sample_iterated

    kept = doremi_mixture_sample_iterated(spark, d, rounds=2, eta=2.0).collect()
    ppm = {r["source"]: r["keep_ppm"] for r in kept}
    # a domain starved below the hash threshold keeps zero docs and
    # vanishes from the (kept-rows-only) output — that IS the
    # amplification working; default it to 0
    assert ppm["structured"] > ppm.get("salad", 0)
    with _pt.raises(ValueError, match="rounds"):
        doremi_weights_iterated(spark, d, rounds=0)


def test_perplexity_buckets_terciles(spark, tmp_path):
    """CCNet head/middle/tail: within a source, docs partition into
    perplexity terciles (boundary docs bucket by <=); buckets are
    non-empty thirds on a 9-doc source; engines row-identical."""
    import duckdb

    from talna_spark.pipeline.text import (
        perplexity_buckets, perplexity_buckets_sql,
    )

    # 9 docs with increasingly rare vocabulary -> strictly increasing
    # xent within the single source
    common = "the the the the"
    rows = []
    for i in range(9):
        rare = " ".join(f"rare{i}_{j}" for j in range(i))
        rows.append((i, f"{common} {rare}".strip(), "en", "s0", 1))
    d = str(tmp_path / "ppl")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in perplexity_buckets(spark, d).collect()}
    assert len(got) == 9
    xents = [got[i]["xent"] for i in range(9)]
    assert xents == sorted(xents) and len(set(xents)) == 9
    buckets = [got[i]["bucket"] for i in range(9)]
    # interpolated terciles of 9 ordered values: 3 head, 3 middle, 3 tail
    assert buckets == ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    for i in range(9):
        r = got[i]
        if r["bucket"] == "head":
            assert r["xent"] <= r["head_cut"]
        elif r["bucket"] == "middle":
            assert r["head_cut"] < r["xent"] <= r["tail_cut"]
        else:
            assert r["xent"] > r["tail_cut"]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = sorted(
        map(tuple, con.execute(perplexity_buckets_sql()).fetchall())
    )
    ours = sorted(
        (r["doc_id"], r["source"], r["xent"], r["head_cut"],
         r["tail_cut"], r["bucket"])
        for r in got.values()
    )
    assert ours == oracle


def test_token_budget_sample_hard_cut_nested_and_portable(spark):
    """r13 hard-budget sampling: per source the kept set is the minimal
    deterministic hash-order prefix covering budget = floor(t_s * f)
    (every kept doc's exclusive prefix < budget; kept tokens cover the
    budget unless the source ran out); budgets are NESTED (kept at
    f=0.25 => kept at f=0.5, the prefix property); and the DuckDB twin
    — a single partitioned window where the engine side runs the
    bucketed two-phase prefix sum — produces the identical rows."""
    import collections

    import duckdb

    from talna_spark.pipeline.sampling import (
        token_budget_sample,
        token_budget_sample_sql,
    )

    got = sorted(map(tuple, token_budget_sample(spark, SF).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(token_budget_sample_sql()).fetchall()))
    con.close()
    assert got == want and got

    by_src = collections.defaultdict(list)
    for doc_id, src, nt, cb, b in got:
        by_src[src].append((cb, nt or 0, b))
    for src, rows in by_src.items():
        b = rows[0][2]
        assert all(r[2] == b for r in rows)
        assert all(cb < b for cb, _, _ in rows), src
        # minimal covering prefix: the furthest kept doc crosses the
        # budget (sf0.01 sources all have more tokens than the budget)
        assert max(cb + nt for cb, nt, _ in rows) >= b, src

    quarter = {
        r["doc_id"]
        for r in token_budget_sample(spark, SF, budget_fraction=0.25).collect()
    }
    half = {r[0] for r in got}
    assert quarter <= half and quarter  # nested budgets


def test_token_budget_sample_two_phase_plan(spark):
    """The 100 TB shape contract: the corpus-sized cumsum window must be
    partitioned by (source, BUCKET) — 64-way parallel per source — and
    the only window partitioned by source alone runs over the tiny
    per-bucket frame. A plan whose corpus window is keyed by source
    alone funnels every mega-source through one reducer."""
    from talna_spark.pipeline.sampling import token_budget_sample

    opt = (
        token_budget_sample(spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the within-bucket cumsum: windowspecdefinition(source, _b, ...)
    assert "windowspecdefinition(source" in opt
    import re

    corpus_windows = re.findall(r"windowspecdefinition\(source#\d+, [^_\n]*", opt)
    bucket_windows = re.findall(r"windowspecdefinition\(source#\d+, _b#\d+", opt)
    assert bucket_windows, opt[:2000]


def test_weighted_sample_proportional_nested_stable_cross_engine(
    spark, tmp_path
):
    """weighted_sample (Efraimidis-Spirakis A-ES): inclusion follows the
    weights (weight-9 rows land ~9x as often as weight-1 rows in a
    half/half pool), winners are nested in k, membership survives
    repartitioning, zero/negative/NULL weights are excluded (zero
    mass), and the driver pair agrees with DuckDB bit-for-bit
    including the double race key."""
    import duckdb

    from pyspark.sql import functions as F

    from talna_spark.pipeline.sampling import (
        WS_K,
        weighted_docs,
        weighted_docs_sql,
        weighted_sample,
    )

    d = spark.range(10000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 9.0).otherwise(1.0).alias("w"),
    )
    s = weighted_sample(d, "doc_id", "w", 1000)
    heavy = s.filter("w = 9.0").count()
    # E[heavy] ~ 900 of 1000 under weight-proportional draws; the draw
    # is deterministic so this is a fixed number (889), not a flake
    assert 0.85 <= heavy / 1000 <= 0.95, heavy

    ids500 = {r["doc_id"] for r in weighted_sample(d, "doc_id", "w", 500).collect()}
    ids1000 = {r["doc_id"] for r in s.collect()}
    assert ids500 <= ids1000  # nested: growing k never evicts

    reparted = {
        r["doc_id"]
        for r in weighted_sample(
            d.repartition(17), "doc_id", "w", 1000
        ).collect()
    }
    assert reparted == ids1000  # partitioning-independent

    bad = spark.createDataFrame(
        [(1, 0.0), (2, None), (3, -1.0), (4, 2.0)],
        "doc_id long, w double",
    )
    assert [
        r["doc_id"] for r in weighted_sample(bad, "doc_id", "w", 10).collect()
    ] == [4]

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(d, "doc_id", "w", 0)

    # grouped driver pair vs DuckDB on a skewed-length corpus
    d2 = str(tmp_path / "wres")
    spark.range(60).selectExpr(
        "id AS doc_id",
        "repeat('x', CAST(1 + id % 7 AS INT) * 10) AS text",
        "'en' AS lang",
        "concat('g', CAST(id % 2 AS STRING)) AS source",
        "1 AS n_chars",
    ).write.parquet(f"{d2}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["source"], r["sample_rank"], r["n_chars"], r["key"])
        for r in weighted_docs(spark, d2).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d2}/documents.parquet/*.parquet'"
    )
    want = sorted(map(tuple, con.execute(weighted_docs_sql()).fetchall()))
    assert got == want  # bit-identical incl. the double key
    assert max(r[2] for r in got) <= WS_K


def test_mixture_family_shared_base_bit_identical(spark):
    """r17: the mix_token_base frame (one corpus tokenization shared by
    the five _mix_scaffold samplers, the x23 fast path) must produce
    rows bit-identical to each sampler's self-contained plan — the
    tokenized projection is the same derivation, only materialized
    once."""
    from talna_spark.pipeline.sampling import (
        alpha_mixture_sample,
        doremi_mixture_sample,
        mix_token_base,
        mixture_sample,
        mixture_upsample,
        token_budget_sample,
    )

    base = mix_token_base(spark, SF)
    for fn in (
        mixture_sample,
        alpha_mixture_sample,
        mixture_upsample,
        doremi_mixture_sample,
        token_budget_sample,
    ):
        alone = sorted(map(tuple, fn(spark, SF).collect()))
        shared = sorted(map(tuple, fn(spark, SF, base=base).collect()))
        assert alone == shared, fn.__name__


def test_lm_family_shared_base_bit_identical(spark):
    """The signal_token_base bundle (one corpus pass shared by the whole
    x22 battery) must produce rows bit-identical to each scorer's
    standalone call: the LM family (whose standalone calls build an
    lm_token_base of their own), the gopher / c4 / cutoff rule slices
    and the perplexity buckets fed the shared lm frame and sources."""
    from talna_spark.pipeline.text import (
        c4_rules,
        gopher_rules,
        lm_score,
        lm_score_bigram,
        lm_score_trigram_kn,
        perplexity_buckets,
        quality_cutoff_filter,
        signal_token_base,
    )

    base = signal_token_base(spark, SF)
    for fn in (
        lm_score, lm_score_bigram, lm_score_trigram_kn,
        gopher_rules, c4_rules, quality_cutoff_filter,
    ):
        alone = sorted(map(tuple, fn(spark, SF).collect()))
        shared = sorted(map(tuple, fn(spark, SF, base=base).collect()))
        assert alone == shared, fn.__name__
    lm_full = lm_score(spark, SF, base=base)
    alone = sorted(map(tuple, perplexity_buckets(spark, SF).collect()))
    shared = sorted(
        map(
            tuple,
            perplexity_buckets(
                spark, SF, lm_xent=lm_full, src=base["signals"]
            ).collect(),
        )
    )
    assert alone == shared
