#!/usr/bin/env python
"""Volume stress over two decades: sf0.1 -> sf1 -> sf10.

Correctness runs at sf0.001–0.01 and the shuffle gate at sf0.1; this
script MEASURES how a query scales. ``gen`` writes a one-off
~sf1-equivalent documents/embeddings set (10× sf0.1 rows, seed 777 ≠
the driver's 42, marginal distributions matched to the sf0.1 empirical
data — same 31-token vocabulary with empirical unigram frequencies,
empirical token-count distribution, lang/source proportions, the
observed ~0.16% exact-dup rate planted, unit-norm float32 embeddings
with the observed label mix); ``gen10`` writes the sf10-equivalent set
(seed 778) and ``gen_events`` scaled events tables into both. ``run``
measures each named query once per generated scale (one untimed JIT
warmup, then a timed run with its shuffle-write bytes) and prints the
wall and shuffle exponents of each decade (log10 of the ratio over a
10× step; 1.0 is linear).

Exact-pair families (exact Jaccard, containment, image dHash, uncapped
banded self-joins) are quadratic BY CONSTRUCTION on the closed 31-token
stress vocabulary, a workload property SCALE.md documents; the linear
families are the ones worth stressing.

Usage:
    python scripts/scale_stress.py gen          # writes .scale_stress/sf1/
    python scripts/scale_stress.py gen10        # writes .scale_stress/sf10/
    python scripts/scale_stress.py gen_events   # events into both
    python scripts/scale_stress.py run QUERY... # measures, prints JSON

``run`` covers sf10 only once ``gen10`` has written it. The generated
sets live under .scale_stress/ (gitignored); /root/testdata is never
written. Outputs of earlier stress runs, cited in SCALE.md, live in git
history.
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_DIR = "/root/testdata/sf0.1"
OUT_DIR = os.path.join(REPO, ".scale_stress", "sf1")
SEED = 777
N_DOCS = 50_000  # 10× sf0.1
N_VECS = 20_000  # 10× sf0.1
# sf10-equivalent set: 500k docs / 200k vectors, seed 778, vectorized
# generation (gen() below is kept byte-reproducible for its recorded run)
OUT_DIR_10 = os.path.join(REPO, ".scale_stress", "sf10")
SEED_10 = 778
N_DOCS_10 = 500_000
N_VECS_10 = 200_000
SCALES = (("sf0.1", SRC_DIR), ("sf1", OUT_DIR), ("sf10", OUT_DIR_10))


def gen() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(SEED)
    docs = pq.read_table(os.path.join(SRC_DIR, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    sources = sorted({s for s in docs.column("source").to_pylist()})

    # empirical unigram distribution + token-count distribution
    from collections import Counter

    tok_counts = Counter()
    lengths = []
    for t in texts:
        toks = t.split(" ")
        lengths.append(len(toks))
        tok_counts.update(toks)
    vocab = sorted(tok_counts)
    freqs = np.array([tok_counts[v] for v in vocab], dtype=np.float64)
    freqs /= freqs.sum()
    lengths = np.array(lengths)
    lang_vals, lang_counts = np.unique(langs, return_counts=True)
    lang_p = lang_counts / lang_counts.sum()

    n_lens = rng.choice(lengths, size=N_DOCS)  # empirical length draw
    doc_langs = rng.choice(lang_vals, size=N_DOCS, p=lang_p)
    doc_sources = [f"src{i % len(sources)}" for i in range(N_DOCS)]
    out_texts: list[str] = []
    vocab_arr = np.array(vocab)
    for n in n_lens:
        out_texts.append(" ".join(rng.choice(vocab_arr, size=int(n), p=freqs)))
    # plant the observed exact-dup rate (~0.16%): overwrite a random
    # 0.16% of rows with a copy of another random row's text
    n_dups = int(round(N_DOCS * 8 / 5000))
    dup_dst = rng.choice(N_DOCS, size=n_dups, replace=False)
    dup_src = rng.choice(N_DOCS, size=n_dups)
    for d, s in zip(dup_dst, dup_src):
        out_texts[int(d)] = out_texts[int(s)]

    os.makedirs(OUT_DIR, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(N_DOCS), type=pa.int64()),
                "text": pa.array(out_texts, type=pa.string()),
                "lang": pa.array(list(doc_langs), type=pa.string()),
                "source": pa.array(doc_sources, type=pa.string()),
                "n_chars": pa.array(
                    [len(t) for t in out_texts], type=pa.int64()
                ),
            }
        ),
        os.path.join(OUT_DIR, "documents.parquet"),
        row_group_size=N_DOCS // 8,  # splittable, unlike the driver files
    )

    emb = pq.read_table(os.path.join(SRC_DIR, "embeddings.parquet"))
    label_vals, label_counts = np.unique(
        emb.column("label").to_pylist(), return_counts=True
    )
    label_p = label_counts / label_counts.sum()
    V = rng.standard_normal((N_VECS, 64)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECS), type=pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in V], type=pa.list_(pa.float32())
                ),
                "label": pa.array(
                    [int(x) for x in rng.choice(label_vals, size=N_VECS, p=label_p)],
                    type=pa.int32(),
                ),
            }
        ),
        os.path.join(OUT_DIR, "embeddings.parquet"),
        row_group_size=N_VECS // 8,
    )
    print(f"wrote {OUT_DIR}: {N_DOCS} documents, {N_VECS} embeddings (seed {SEED})")


def gen10() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(SEED_10)
    docs = pq.read_table(os.path.join(SRC_DIR, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    from collections import Counter

    tok_counts = Counter()
    lengths = []
    for t in texts:
        toks = t.split(" ")
        lengths.append(len(toks))
        tok_counts.update(toks)
    vocab = np.array(sorted(tok_counts))
    freqs = np.array([tok_counts[v] for v in vocab], dtype=np.float64)
    freqs /= freqs.sum()

    n_lens = rng.choice(np.array(lengths), size=N_DOCS_10)
    # one vectorized draw for every token in the corpus, then split
    total = int(n_lens.sum())
    flat = rng.choice(vocab, size=total, p=freqs)
    bounds = np.cumsum(n_lens)[:-1]
    out_texts = [" ".join(seg) for seg in np.split(flat, bounds)]
    n_dups = int(round(N_DOCS_10 * 8 / 5000))
    dup_dst = rng.choice(N_DOCS_10, size=n_dups, replace=False)
    dup_src = rng.choice(N_DOCS_10, size=n_dups)
    for d, s in zip(dup_dst, dup_src):
        out_texts[int(d)] = out_texts[int(s)]

    langs = docs.column("lang").to_pylist()
    lang_vals, lang_counts = np.unique(langs, return_counts=True)
    lang_p = lang_counts / lang_counts.sum()
    sources = sorted({s for s in docs.column("source").to_pylist()})
    os.makedirs(OUT_DIR_10, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(N_DOCS_10), type=pa.int64()),
                "text": pa.array(out_texts, type=pa.string()),
                "lang": pa.array(
                    list(rng.choice(lang_vals, size=N_DOCS_10, p=lang_p)),
                    type=pa.string(),
                ),
                "source": pa.array(
                    [f"src{i % len(sources)}" for i in range(N_DOCS_10)],
                    type=pa.string(),
                ),
                "n_chars": pa.array(
                    [len(t) for t in out_texts], type=pa.int64()
                ),
            }
        ),
        os.path.join(OUT_DIR_10, "documents.parquet"),
        row_group_size=N_DOCS_10 // 32,
    )

    emb = pq.read_table(os.path.join(SRC_DIR, "embeddings.parquet"))
    label_vals, label_counts = np.unique(
        emb.column("label").to_pylist(), return_counts=True
    )
    label_p = label_counts / label_counts.sum()
    V = rng.standard_normal((N_VECS_10, 64)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECS_10), type=pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in V], type=pa.list_(pa.float32())
                ),
                "label": pa.array(
                    [int(x) for x in rng.choice(label_vals, size=N_VECS_10, p=label_p)],
                    type=pa.int32(),
                ),
            }
        ),
        os.path.join(OUT_DIR_10, "embeddings.parquet"),
        row_group_size=N_VECS_10 // 32,
    )
    print(f"wrote {OUT_DIR_10}: {N_DOCS_10} documents, {N_VECS_10} embeddings (seed {SEED_10})")


def gen_events() -> None:
    """Synthesize 10x/100x events tables into the sf1/sf10 stress dirs
    (the event-stream instruments — seasonality, transitions, weekly
    dup rate — need a scaled EVENTS table, which gen()'s documents/
    embeddings set lacks). Marginals match sf0.1 empirically: event_type
    mix, value distribution (resampled), the SAME wall-clock window
    (scaling means more traffic in the period, not a longer period), and
    events-per-user held constant by scaling the user pool with volume —
    so per-user sequences (the transitions shuffle) keep their length
    profile while the key cardinality grows linearly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(SEED)
    ev = pq.read_table(os.path.join(SRC_DIR, "events.parquet"))
    types = np.array(ev.column("event_type").to_pylist())
    # explicit float64 (NULL -> NaN) rather than to_pylist(): a NULL in
    # the source column would otherwise yield an object-dtype array and
    # pa.array over mixed float/None objects can mistype
    values = ev.column("value").to_numpy(zero_copy_only=False)
    ts = ev.column("ts").to_pylist()
    lo = min(ts)
    span_us = int((max(ts) - lo).total_seconds() * 1_000_000)
    tvals, tcounts = np.unique(types, return_counts=True)
    tp = tcounts / tcounts.sum()
    n_users_base = len(set(ev.column("user_id").to_pylist()))

    for mult, out_dir in ((10, OUT_DIR), (100, OUT_DIR_10)):
        n = ev.num_rows * mult
        n_users = n_users_base * mult
        # dtype='int64' explicitly: microsecond spans overflow platform
        # long where it is 32-bit
        offs = np.sort(rng.randint(0, span_us, size=n, dtype="int64"))
        tbl = pa.table(
            {
                "event_id": pa.array(range(n), type=pa.int64()),
                "ts": pa.array(
                    offs + int(lo.timestamp() * 1_000_000),
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array(
                    rng.randint(0, n_users, size=n, dtype="int64")
                ),
                "event_type": pa.array(
                    rng.choice(tvals, size=n, p=tp), type=pa.string()
                ),
                # explicit type + from_pandas so a resampled NaN (a NULL
                # in the source) round-trips to a parquet NULL
                "value": pa.array(
                    rng.choice(values, size=n),
                    type=pa.float64(),
                    from_pandas=True,
                ),
                "props": pa.array(
                    [f'{{"k": {int(k)}}}' for k in rng.randint(0, 100, size=n)],
                    type=pa.string(),
                ),
            }
        )
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(
            tbl,
            os.path.join(out_dir, "events.parquet"),
            row_group_size=max(n // 32, 1),
        )
        print(f"wrote {out_dir}/events.parquet: {n} rows, {n_users} users")


def run(names: list[str]) -> None:
    """Measure ``names`` at every generated scale in one session and
    print per-scale wall/shuffle bytes plus each decade's exponents."""
    from check_shuffle_bytes import (
        persistent_ids,
        release_transients,
        run_in_group,
        run_query,
    )
    from weather_data_data_pipeline_spark import registry
    from weather_data_data_pipeline_spark.session import get_spark
    from weather_data_data_pipeline_spark.sources.tables import (
        DOC_FANOUT,
        clear_cache,
        warm_cache,
    )

    scales = [
        (label, d) for label, d in SCALES
        if os.path.exists(os.path.join(d, "documents.parquet"))
    ]
    if len(scales) < 2:
        sys.exit("no stress set: run `scale_stress.py gen` first")
    if len(scales) < len(SCALES):
        print("sf10 set not generated (gen10): measuring sf0.1 -> sf1 only",
              file=sys.stderr)
    spark = get_spark(app_name="scale_stress")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    for label, sf_dir in scales:
        warm_cache(spark, sf_dir, ("embeddings",))
        warm_cache(spark, sf_dir, ("documents",), partitions=DOC_FANOUT)
        keep = persistent_ids(spark)
        for name in names:
            fn = registry.get_query(name).fn
            run_query(spark, fn, sf_dir)  # one untimed warmup (JIT)
            release_transients(spark, keep)
            wall, sb = run_in_group(spark, fn, sf_dir, f"stress_{label}_{name}")
            release_transients(spark, keep)
            results.setdefault(name, {})[label] = {
                "wall_sec": round(wall, 3),
                "shuffle_bytes": sb,
            }
            print(f"{label:6s} {name:32s} {wall:7.2f}s  {sb:>12,} B", file=sys.stderr)
        # drop this SF's cached tables before warming the next
        clear_cache()
        release_transients(spark, set())
    spark.stop()
    for r in results.values():
        for (lo, _), (hi, _) in zip(scales, scales[1:]):
            t0, t1 = r[lo]["wall_sec"], r[hi]["wall_sec"]
            b0, b1 = r[lo]["shuffle_bytes"], r[hi]["shuffle_bytes"]
            r[f"{lo}->{hi}"] = {
                "wall_exponent": round(math.log10(t1 / t0), 2),
                "shuffle_exponent": (
                    round(math.log10(b1 / b0), 2) if b0 and b1 else None
                ),
            }
    print(json.dumps({"queries": results}))


COMMANDS = {"gen": gen, "gen10": gen10, "gen_events": gen_events}

if __name__ == "__main__":
    cmd, args = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else ("", [])
    if cmd == "run" and args:
        run(args)
    elif cmd in COMMANDS and not args:
        COMMANDS[cmd]()
    else:
        print("usage: scale_stress.py gen|gen10|gen_events|run QUERY...")
        sys.exit(2)
