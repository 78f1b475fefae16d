"""Targeted drift probe (VERDICT r10 item 7; r12: row selection):
measure drifted bench rows in isolation at min-of-N against an
arbitrary code checkout, so old-code vs HEAD runs on the same quiet box
separate code regression from load noise.

Usage: python scripts/probe_drift.py <repo_checkout_path> [row ...]
Rows: srp_embed, q16 (the defaults), plus any pipe op by alias
(ann_ivf, pq, lsh_pairs, dup_spans, paragraph_dedup, bm25, curate) or
an explicit "module.path:function" spec — the function is called as
fn(spark, SF) and .collect()ed, min-of-5, like the bench closure.
Prints one JSON line.

FINDINGS (r17, 2026-08-16, the VERDICT r16 watch list + the r17 local
bench's own drift set):
- The two r16 OVERHEAD-FLOOR ODDITIES did NOT persist (the recorded
  "probe only if it persists" discipline): scale1000_q16_prepared_sec
  read 105/116 ms across two r17 bench runs (r16: 157) and the NEW
  order-swap rows read prepared 100/97 ms vs warehouse 112/101 ms —
  prepared is again at-or-below the warehouse path in BOTH measurement
  orders, so the r16 +47% was position-at-the-floor noise, now
  instrumented. Base ingest_points_per_sec read 34.3k/31.1k (r16:
  13.3k; r15: 32.2k) — the −59% was a one-round excursion; the
  ingest_base probe row stands ready if it recurs.
- The r16 WATCH ROWS are flat in the r17 bench (mm_roundtrip 1.10 vs
  1.15; bloom_amortized 8.21 vs 7.93; ivfpq 1.81 vs 2.14 — FASTER):
  no A/B owed.
- The r17 local bench's own big movers (quality_battery +47%,
  clf_train +37%, srp_embed +29%, none of whose code changed in r17)
  are LOAD/BAND: three interleaved location-controlled pairs
  (r16-final 8e62545 vs HEAD c1c34b1, BOTH cloned to /tmp,
  PYTHONPATH per the recorded ops note; battery probed as the 8-slice
  __spark_entry__:_x22_quality_scoring spec on both sides):
    battery  r16 {6.75, 8.92, 7.79}  HEAD {12.32*, 7.74, 7.93}
    srp      r16 {0.82, 0.95, 0.94}  HEAD {1.92*,  1.01, 1.04}
    clf      r16 {4.72, 6.14, 4.82}  HEAD {9.65*,  5.10, 5.71}
  (*the first HEAD process ran inside a visible load spike — the
  back-to-back r17 bench runs bracketing it read the battery at 8.6
  then 14.5 s on identical code, a ±70% same-code swing.) Ex-outlier
  means: battery 7.82 vs 7.83 (parity), clf 5.23 vs 5.40 (3%), srp
  0.90 vs 1.02 (inside the ±15% r11 srp band). BOTH checkouts measure
  the battery at 7.7-8.9 s TODAY vs r16's recorded 5.83 — the box
  band moved between rounds again (the r14/r15/r16 precedent).
  Nothing on any path regressed.
- Addendum (same session, third full-bench run): the degradation is
  MONOTONE across fresh processes on an otherwise-idle box (battery
  8.6 -> 14.5 -> 20.6 s, clf 6.7 -> 11.6 -> 15.8 s over ~2.5 h of
  sustained compute) while JVM-side rows hold steady (q16 warm
  107-126 ms, scale1000 ingest 2.26-2.32M pts/s, both swap orders
  flat) — consistent with host-level CPU throttling of sustained
  Python-worker load (burst-credit exhaustion), not with any code or
  box-queue effect. Practical rule: Python-heavy rows measured LATE
  in a long compute session read 2-3x high; trust the
  earliest-in-session run and the JVM rows, and interleave A/B pairs
  tightly so both sides share the same throttle state (this probe's
  pairs did — both sides inflated equally, code exonerated).

FINDINGS (r18, 2026-08-18, the VERDICT r17 item 6 watch list — dsir
0.59x, wds_roundtrip 0.63x, mm_roundtrip 0.61x, dup_spans 0.81x
r16->r17 cross-run):
- LOAD on all four, not code — and this time provably so: every file
  on the four paths (sources/webdataset.py, sources/megatron.py,
  pipeline/sampling.py, portable.py, scan.py) is BYTE-IDENTICAL
  between the r17-verdict tree and r18 HEAD (cmp clean; the only
  dedup.py diff is the r18 bloom block at lines 1312-1680, untouched
  by dup_spans), so an A/B can only measure the box. Three
  location-controlled interleaved pairs (both trees as /tmp git
  worktrees, min-of-5 per process, r17 first in each pair):
    dup_spans r17 {1.90, 1.91, 1.39}  HEAD {2.71, 1.36, 2.11}
    wds       r17 {3.05, 2.00, 1.99}  HEAD {5.24, 1.89, 3.23}
    mm        r17 {1.76, 1.29, 1.36}  HEAD {2.78, 1.18, 2.21}
    dsir      r17 {2.23, 1.86, 2.47}  HEAD {2.44, 1.91, 2.27}
  Signs FLIP between pairs (HEAD faster in pair 2, slower in 1 and 3)
  with swings up to 2.7x on identical bytes — the sustained-load
  throttle oscillating at ~minutes period, the r17 monotone-degradation
  pattern. dsir reads parity straight through. All four exonerated; no
  fix owed. (This round's throttle was the worst recorded: the
  round-start full bench on an inherited 4-commit tree read 203 s
  total vs r17's 20.9 with q16_bench — a pure JVM view-path row — at
  37.8 s vs 0.63.)

FINDINGS (r16, 2026-08-16, the three largest BENCH_r15 drifts —
pipe_lsh_bbit +36%, pipe_dedup_exact +36%, pipe_pdf_extract +30%,
none of whose code changed in r15):
- LOAD/BAND on all three, not code. Three interleaved process pairs
  (min-of-5 per row per process), r14-final 155dee3 vs HEAD, BOTH
  sides cloned to /tmp per the r15 location discipline, one discarded
  warm process first:
    lsh_bbit    r14 {2.33, 1.44, 1.80}   HEAD {2.32, 1.48, 2.05}
    dedup_exact r14 {0.85*, 0.25, 0.25}  HEAD {0.37, 0.24, 0.30}
    pdf_extract r14 {2.67, 2.19, 2.18}   HEAD {1.89, 1.85, 2.37}
  (*the first measured process of the batch — residual startup/load;
  the same row read 0.25 in both later r14 processes.) Means: lsh
  1.86 vs 1.95 (within 5%, signs mixed per pair), dedup 0.25 vs 0.28
  warm-only (within noise), pdf 2.35 vs 2.04 (HEAD 13% FASTER —
  consistent with the r15 seam refactor's closure-local hoists).
  BOTH checkouts measure lsh_bbit at 1.4-2.3 s TODAY vs BENCH_r14's
  recorded 1.26 s — the box band moved between rounds again, exactly
  the r14/r15 precedent. Nothing on any of the three paths regressed;
  BENCH_r15's drift rows are explainable. Ops note: pyspark WORKERS
  import talna_spark via PYTHONPATH=<target repo>, not the driver's
  sys.path insert — run probes as `PYTHONPATH=$REPO python
  scripts/probe_drift.py $REPO ...` or every mapInPandas row dies
  with ModuleNotFoundError.

FINDINGS (r15, 2026-08-16, the remaining BENCH_r14 drift rows —
pipe_bloom_dedup_off +24%, pipe_ivfpq +21%):
- ivfpq: NOISE. Three interleaved pairs r13-final vs HEAD: r13
  {2.84, 2.07, 2.01} vs HEAD {2.14, 2.41, 2.00} — means within 8%,
  HEAD faster, signs mixed.
- bloom_dedup_off: code EXONERATED, with a methodology lesson. Three
  interleaved pairs /tmp-r13 vs /root/repo-HEAD read HEAD +13%
  consistently (r13 {2.56, 2.71, 2.30} vs HEAD {2.96, 2.98, 2.59}) —
  but the r13..HEAD diff on the entire path (dedup.py + its imports
  portable/scan) is COMMENT-ONLY, so a code cause is impossible. A
  location-controlled re-run with BOTH checkouts cloned to /tmp:
  r13 {2.89, 2.56} vs HEAD {3.01, 2.38} — means within 2%, signs
  flip. The apparent gap was a checkout-location artifact.
  PROBE DISCIPLINE: always clone BOTH sides to the same filesystem
  (/tmp) before interleaving; never compare a /tmp clone against the
  working tree.

FINDINGS (r15, 2026-08-16, the three largest unexplained BENCH_r14
drifts — pipe_wds_roundtrip +33%, pipe_mm_roundtrip +25%,
pipe_mixture +22%, none of whose code changed in r14):
- LOAD/BAND on all three, not code. Three interleaved A/B process
  pairs (min-of-5 per row per process), r13-final 1ac8a30 vs HEAD on
  the same box:
    wds      r13 {5.07*, 2.18, 1.74}  HEAD {1.95, 1.65, 1.98}
    mm       r13 {1.91,  1.44, 1.34}  HEAD {1.42, 0.99, 1.17}
    mixture  r13 {3.47,  3.80, 4.05}  HEAD {3.73, 3.83, 3.99}
  (*first process of the day paid cold page cache on
  documents.parquet — excluded from means, and itself evidence of the
  noise floor.) Warm means: wds 1.96 vs 1.86 (HEAD 5% faster), mm
  1.56 vs 1.19 (HEAD 24% faster — the r15 seam refactor hoisted the
  os/open lookups into closure locals; either way no regression),
  mixture 3.77 vs 3.85 (within 2%). r13 code measures wds 1.7-2.2 s
  TODAY vs its recorded 1.32 s — the box band moved between rounds,
  exactly as the r14 q16 A/B found. Nothing on any of the three paths
  regressed; BENCH_r15 rows are explainable.

FINDINGS (r14, 2026-08-16, scale1000 q16 warm 139.5 -> 291.6 ms in a
local pre-driver bench run):
- LOAD, not code. Interleaved single-run-each A/B on the same box
  (each = fresh 100M-point warehouse ingest + min-of-7 warm query):
  r12-final f4ed645 q16_warm 152.2 ms vs HEAD 118.6 ms — HEAD is 22%
  FASTER than old code today and back in the historical 107-152 ms
  band; the 291.6 ms reading came from a bench started minutes after
  a 22-minute full-pytest run (page cache + CPU residue). No engine
  file on the q16 path changed in r14 (docstrings only). The r13
  verdict's "watch, act if it persists" is answered: it does not.

FINDINGS (r14, 2026-08-16, the BENCH_r13 pipe_lsh_pairs 1.20 -> 2.80 s
"regression"):
- ROW REBIND, not code (VERDICT r13 What's-wrong #2): r13 made x07 a
  2-slice union (full + bbit banding) and pipe_lsh_pairs timed the
  union. The full-width operator alone, interleaved min-of-5, three
  pairs: r12-final f4ed645 {1.596, 1.715, 1.731} vs HEAD {1.812,
  1.446, 1.735} — means 1.681 vs 1.664, within 1%. Nothing regressed.
  bench.py now times each slice in its own row (pipe_lsh_pairs =
  full-width only, restoring its historical meaning; pipe_lsh_bbit
  new), the pipe_pq precedent.

FINDINGS (r13, 2026-08-15, the two BENCH_r12 drift rows):
- pipe_tokenize_pack_byte +51% (6.09 -> 9.21 s): NOT the exact-\p-class
  commit and NOT code. Interleaved min-of-3 A/B, three pairs each:
  HEAD {8.24, 8.04, 9.93} vs 0e30eea^ (pre-exact-classes) {9.80, 7.77,
  10.44} — means within 7%, HEAD slightly FASTER; HEAD {9.44, 11.99,
  10.59} vs r11-final e2528dd {8.71, 8.60, 13.75} — means within 3%.
  r11 code measures 8.6-13.8 s TODAY vs its recorded 6.09 s, so the
  bench drift was box speed between rounds, not a regression.
- pipe_pq +21% / pipe_clf_train +12% (VERDICT r12 next-round #6):
  both CLEAN post-cosine-fix. Interleaved, three pairs: pq HEAD
  {1.61, 1.50, 1.58} vs r11 {2.10, 1.70, 2.06} — HEAD is consistently
  ~20% FASTER than r11 code (the e6231e9 try_divide fix reaches pq's
  cosine folds); clf_train HEAD {4.91, 5.47, 4.84} vs r11 {4.84, 4.62,
  5.46} — means within 2%, pure noise. Nothing remains of either drift.
- scale1000 ingest 39 -> 64 s: LOAD, not code. Two interleaved
  min-of-2 pairs (bench-identical: parallelism=32, fresh warehouse +
  sync per rep): HEAD {36.18, 39.84} vs r11-final {35.20, 39.83} —
  identical within 1-3%, and BOTH match r11's recorded 39.2 s, not
  r12's 64.1 s. The r12 driver-run number was a loaded box (the row
  was ALREADY min-of-2 — bench.py since r8; the verdict's 'single
  cold pass by design' claim was stale). Nothing to fix in ingest.

FINDINGS (r12, 2026-08-15, pipe_ann_ivf +60% drift from BENCH_r11):
- ann_ivf min-of-5, THREE interleaved A/B pairs: r10 code (3f06fba)
  {1.190, 1.336, 1.246} s vs r11-HEAD {1.525, 1.618, 1.563} s — a
  CONSISTENT +25% gap on the same box, NOT load noise. Root cause:
  portable.cosine's r11 zero-norm guard `when(den > 0, num/den)`
  duplicated the den subtree; the interpreted aggregate() folds get no
  CSE, so every cosine ran 5 dot-folds instead of 3. Fixed with
  try_divide (NULL-on-zero under ANSI, single den eval, bit-identical
  division); post-fix interleaved pairs: r10 {1.511, 1.421} vs HEAD
  {1.314, 1.491} — within noise. Part of the r11 drift WAS load (the
  bench recorded +60%, code explains +25%), but the code half was real.

FINDINGS (r11, 2026-08-15, this box, back-to-back runs):
- q16 warm (scale1000, min-of-7): r9 code (c7cc3be) measures 147.2 ms
  TODAY vs its recorded 107 ms in BENCH_r9; r11 HEAD measures 123.1 ms
  vs r10's recorded 141 ms. HEAD is FASTER than r9 code on the same
  box — the 107 -> 141 ms drift was environment noise (a quieter box
  at r9 time), not a code regression. The q16 engine path diff
  r9..r10 confirms: only calendar_bucket_col changed, which q16 never
  touches.
- pipe_srp_embed (sf0.1, min-of-5, THREE interleaved A/B process
  pairs): r9 code {1.173, 1.100, 0.993} s vs HEAD {0.946, 1.243,
  1.010} s — means within 2%, run-to-run spread +-15% dominates, and
  srp_embed_documents is textually unchanged since r9. The 0.92 ->
  1.15 s drift was load noise.
- ingest_sec here is NOT comparable to bench: this probe reads
  points_from_events without parallelism=32, so the x1000 explode
  runs on the source's single row-group task."""

import json
import os
import shutil
import sys
import tempfile
import time

repo = os.path.abspath(sys.argv[1])
sys.path.insert(0, repo)
os.environ.setdefault("TALNA_MIN_SCAN_TASKS", "32")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[32]")
    .appName("talna-drift-probe")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.driver.memory", "8g")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from talna_spark.database import Database
from talna_spark.sources.events import points_from_events
from talna_spark.pipeline.scan import read_documents
from talna_spark.pipeline.similarity import srp_embed_documents

SF = "/root/testdata/sf0.1"
T_JAN24 = 1_706_054_400 * 10**9

# bench-identical warmups
spark.range(1000).count()
import pandas as _pd  # noqa: F401
warm = spark.range(256).selectExpr("id % 8 AS g", "id AS v")
warm.groupBy("g").applyInPandas(lambda p: p.head(1), schema="g long, v long").count()


def min_of(fn, n):
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


out = {"repo": repo}

ROWS = [a for a in sys.argv[2:]] or ["srp_embed", "q16"]

# pipe-op aliases -> bench-identical callables (fn(spark, SF).collect())
PIPE_ALIASES = {
    "srp_embed": "talna_spark.pipeline.similarity:srp_embed_documents",
    "ann_ivf": "talna_spark.pipeline.similarity:ivf_topk",
    "pq": "talna_spark.pipeline.similarity:pq_topk",
    "lsh_pairs": "talna_spark.pipeline.dedup:lsh_near_dup_pairs",
    "dup_spans": "talna_spark.pipeline.dedup:dup_spans",
    "paragraph_dedup": "talna_spark.pipeline.dedup:paragraph_dedup",
    "bm25": "talna_spark.pipeline.relevance:bm25_topk",
    "curate": "talna_spark.pipeline.curate:curate",
    # r15 (VERDICT r14 item 1): the three largest unexplained BENCH_r14
    # drifts, bench-identical closures
    "wds_roundtrip": "talna_spark.sources.webdataset:roundtrip_layer",
    "mm_roundtrip": "talna_spark.sources.megatron:mm_roundtrip_layer",
    "ivfpq": "talna_spark.pipeline.similarity:ivfpq_topk",
    # r16 (VERDICT r15 item 1): the three largest unexplained BENCH_r15
    # drifts — lsh_bbit is in CUSTOM_ROWS; these two are plain fn(spark,
    # SF) closures, bench-identical (pipe_dedup_exact times
    # x05_dedup_exact = exact_survivors; pipe_pdf_extract times
    # pdf_extract directly)
    "dedup_exact": "talna_spark.pipeline.dedup:exact_survivors",
    "pdf_extract": "talna_spark.pipeline.multimodal:pdf_extract",
}


# r13: the two BENCH_r12 drift rows need bench-identical closures the
# alias table can't express (extra args / label construction / a full
# warehouse ingest), so they get dedicated handlers.
def _tokenize_pack_byte_run():
    from talna_spark.pipeline.packing import tokenize_pack

    rows = tokenize_pack(spark, SF, n_merges=30, mode="byte").collect()
    assert rows


def _clf_train_run():
    from talna_spark.pipeline.classifier import train_classifier

    docs = read_documents(spark, SF, "doc_id", "text")
    labels = docs.select(
        "doc_id", (F.col("doc_id") % 2).cast("double").alias("y")
    )
    m = train_classifier(docs, labels, n_features=1024, iters=5, lr=4.0)
    assert m["loss_history"]


def _scale1000_ingest_min2() -> float:
    """Bench-identical scale1000 ingest: explode x1000, fresh warehouse
    per rep, os.sync settles before each timing, previous warehouse
    freed first — min-of-2 like bench.py's scale_section(1000, 2).
    parallelism=32 matters: without it the x1000 explode runs on the
    source's single row-group task (the q16 section's documented
    caveat) and the ingest takes 20x longer."""
    ptsN = (
        points_from_events(spark, SF, parallelism=32)
        .withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(999))))
        .withColumn("ts", F.col("ts") + F.col("_i") * F.lit(3_600_000_000_000))
        .drop("_i")
    )
    runs, whs = [], []
    try:
        for _ in range(2):
            if whs:
                shutil.rmtree(whs.pop(), ignore_errors=True)
            whN = tempfile.mkdtemp(prefix="talna_drift_wh1000_")
            whs.append(whN)
            os.sync()
            t0 = time.perf_counter()
            dbN = Database.open(spark, whN)
            dbN.write_batch(ptsN, persist=False)
            runs.append(time.perf_counter() - t0)
    finally:
        for w in whs:
            shutil.rmtree(w, ignore_errors=True)
    return runs


def _lsh_bbit_run():
    # bench-identical: the pipe_lsh_bbit row (r14), driver-pinned width.
    # r16: pre-r15 checkouts keep the width at __spark_entry__._LSH_BBIT
    # (the r15 diff promoted it to dedup.LSH_BBIT_DEFAULT, same value) —
    # fall back so the A/B can target 155dee3.
    from talna_spark.pipeline import dedup as _d

    width = getattr(_d, "LSH_BBIT_DEFAULT", None)
    if width is None:
        import __spark_entry__ as _em

        width = _em._LSH_BBIT
    rows = _d.lsh_near_dup_pairs(spark, SF, band_bits=width).collect()
    assert rows


def _bloom_dedup_off_run():
    # bench-identical: pipe_bloom_dedup_off (one-shot dedup_against,
    # prefilter OFF — bench.py's _bench_bloom_dedup with bloom_bits=None)
    from pyspark.sql import functions as _Fb

    from talna_spark.pipeline.dedup import dedup_against_frames

    d = read_documents(spark, SF, "doc_id", "text")
    rows = dedup_against_frames(
        new_d=d.filter(_Fb.col("doc_id") % 3 != 0),
        ref_d=d.filter(_Fb.col("doc_id") % 3 == 0),
        bloom_bits=None,
    ).collect()
    assert rows


def _mixture_run():
    # bench-identical: pipe_mixture times the r9 5-slice registration
    # content (doremi excluded — it has its own row since r10)
    import __spark_entry__ as entrymod

    rows = entrymod._x23_mixture_sample(
        spark, SF, include_doremi=False
    ).collect()
    assert rows


def _ingest_base_runs():
    """Bench-identical BASE ingest (the sf0.1 `ingest` row, VERDICT r16
    item 2 — ingest_points_per_sec read 32.2k then 13.3k on identical
    code): ~100k points, fresh warehouse per rep, min-of-2 like
    bench.py. parallelism=32 matches the bench's source repartition."""
    pts = points_from_events(spark, SF, parallelism=32)
    pts.count()
    runs, whs = [], []
    try:
        for _ in range(2):
            wh = tempfile.mkdtemp(prefix="talna_drift_whbase_")
            whs.append(wh)
            t0 = time.perf_counter()
            dbw = Database.open(spark, wh)
            dbw.write_batch(pts, persist=False)
            runs.append(time.perf_counter() - t0)
    finally:
        for w in whs:
            shutil.rmtree(w, ignore_errors=True)
    return runs


def _ingest_base_row():
    runs = _ingest_base_runs()
    return {"runs_sec": [round(r, 3) for r in runs],
            "min2_sec": round(min(runs), 3)}


CUSTOM_ROWS = {
    "ingest_base": _ingest_base_row,
    "tokenize_pack_byte": lambda: min_of(_tokenize_pack_byte_run, 3),
    "clf_train": lambda: min_of(_clf_train_run, 3),
    "lsh_bbit": lambda: min_of(_lsh_bbit_run, 5),
    "mixture": lambda: min_of(_mixture_run, 5),
    "bloom_dedup_off": lambda: min_of(_bloom_dedup_off_run, 5),
}

for row in ROWS:
    if row == "q16":
        continue  # handled below (needs the ingested warehouse)
    if row == "scale1000_ingest":
        runs = _scale1000_ingest_min2()
        out["scale1000_ingest_runs_sec"] = [round(r, 2) for r in runs]
        out["scale1000_ingest_min2_sec"] = round(min(runs), 2)
        continue
    if row in CUSTOM_ROWS:
        out[f"{row}_sec"] = CUSTOM_ROWS[row]()
        continue
    spec = PIPE_ALIASES.get(row, row)
    if ":" not in spec:
        sys.exit(
            f"unknown row {row!r} — use one of {sorted(PIPE_ALIASES)} "
            "or an explicit 'module.path:function' spec"
        )
    mod_name, fn_name = spec.split(":")
    import importlib

    fn = getattr(importlib.import_module(mod_name), fn_name)

    def pipe_run(fn=fn):
        rows = fn(spark, SF).collect()
        assert rows

    out[f"{row}_min5_sec"] = min_of(pipe_run, 5)

# --- scale1000 warm q16: one ingest, then min-of-7 repeat-query latency
if "q16" not in ROWS:
    print(json.dumps(out))
    sys.exit(0)

pts = points_from_events(spark, SF)
ptsN = (
    pts.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(999))))
    .withColumn("ts", F.col("ts") + F.col("_i") * F.lit(3_600_000_000_000))
    .drop("_i")
)
wh = tempfile.mkdtemp(prefix="talna_drift_wh_")
try:
    os.sync()
    t0 = time.perf_counter()
    db = Database.open(spark, wh)
    db.write_batch(ptsN, persist=False)
    out["ingest_sec"] = round(time.perf_counter() - t0, 2)
    os.sync()

    def q16():
        (
            db.avg("app.purchase", "user")
            .filter("user:9 OR user:8")
            .start(T_JAN24)
            .to_df()
            .collect()
        )

    q16()  # cold first call warms the facade plan cache, as in bench
    out["q16_warm_min7_sec"] = min_of(q16, 7)
finally:
    shutil.rmtree(wh, ignore_errors=True)

print(json.dumps(out))
