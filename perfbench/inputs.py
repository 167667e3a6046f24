"""Seeded inputs for each workload, and the DuckDB oracle of the training set.

Every input the program receives is made here from the workload seed:
the PLC node's POSTs, history and panel mix, the ingest
pipeline's XML catalog, and the training corpus. Work sizes are fixed
per `--seconds` value, so one seed always means one amount of work.
"""
import hashlib
import json
import math
import os

import numpy as np

# plc_node: one dashboard client alternates PLC_WRITES_PER_PANEL serial
# single-sample POSTs with one panel query, on a node with the tick off;
# PLC_BLOCKS_PER_10S refresh blocks (every measurement at every time range
# once) per 10 s of --seconds
PLC_MEASUREMENTS = 4
PLC_ALIASES = 6
PLC_HISTORY_STEP_S = 10
PLC_WRITES_PER_PANEL = 4
PLC_RANGES_MIN = (15, 30, 60)
PLC_BLOCKS_PER_10S = 2
# each workload warms up on a fixed amount of work (rounds, batches,
# jobs), so every run's window starts at the same point of the JIT's
# compilation, however busy the host (README: Warm-up)
PLC_WARMUP_ROUNDS = 16
# plc_node_open: writes per second, spread over the measurements, and the
# maintenance tick of the node
PLC_RATE_PER_S = 20
PLC_TICK_S = 5
PLC_WARMUP_S = 15
PLC_PROBES = 16
# the store compacts a partition at the first tick that finds more than
# 32 files in it; the window spans whole compaction cycles, so where the
# cycle's phase falls does not change what the window sees
PLC_COMPACT_FILES = 33
# stream_ingest: devices × tags × source ticks per micro-batch
STREAM_PLCS = 32
STREAM_TAGS = 25
STREAM_TICKS = 200
STREAM_WARMUP_BATCHES = 6
STREAM_BATCH_NOMINAL_S = 1.0
# trainset_batch: one fixed corpus shaped like the sf0.1 test corpus; the
# seed only orders its rows, so the oracle answer is computed once
CORPUS_SEED = 20240101
DOCS = 5000
DOC_SOURCES = 20
VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))
NEAR_DUPS = 250
EXACT_DUPS = 8
TRAINSET_WARMUP_JOBS = 7
TRAINSET_JOB_NOMINAL_S = 1.7

BASE_NOW_NS = 1704110400 * 10**9  # 2024-01-01T12:00:00Z


def _rng(seed, salt):
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, salt])


def plc_node(seed, seconds, open_loop):
    rng = _rng(seed, 1)
    now_ns = BASE_NOW_NS + int(seed % 365) * 86400 * 10**9
    ms = [f"plc_10_0_{int(x)}_1" for x in rng.choice(250, PLC_MEASUREMENTS, replace=False)]
    aliases = {m: [f"{m}_{kind}{i}" for i, kind in enumerate(
        rng.choice(["temp", "press", "flow", "speed", "level", "volt"], PLC_ALIASES))]
        for m in ms}
    hour_ns = 3600 * 10**9
    n_hist = PLC_MEASUREMENTS * PLC_ALIASES * (3600 // PLC_HISTORY_STEP_S)
    blocks = max(1, round(seconds * PLC_BLOCKS_PER_10S / 10))
    n_panels = blocks * PLC_MEASUREMENTS * len(PLC_RANGES_MIN)
    if open_loop:
        per_tick = PLC_RATE_PER_S / PLC_MEASUREMENTS * PLC_TICK_S
        cycle_s = PLC_TICK_S * math.ceil(PLC_COMPACT_FILES / per_tick)
        n_warm = PLC_RATE_PER_S * PLC_WARMUP_S
        n_post = PLC_RATE_PER_S * cycle_s * max(1, round(seconds / cycle_s))
    else:
        n_warm, n_post = 0, n_panels * PLC_WRITES_PER_PANEL
    # distinct millisecond timestamps inside the pinned last hour
    ts = now_ns - hour_ns + rng.choice(3600 * 1000, n_hist + n_warm + n_post + PLC_PROBES,
                                       replace=False).astype(np.int64) * 10**6
    tags = [(m, a) for m in ms for a in aliases[m]]

    def line(m, a, v, t):
        return f"{m},alias={a} value={v:.3f} {t}"

    history, k = [], 0
    for m, a in tags:
        for _ in range(3600 // PLC_HISTORY_STEP_S):
            history.append(line(m, a, rng.normal(50, 10), int(ts[k])))
            k += 1

    def schedule(n):
        # one daemon per tag, each POSTing on its own fixed period from a
        # seeded phase (the reference daemon polls on a fixed interval)
        nonlocal k
        period_ms = 1000.0 * len(tags) / PLC_RATE_PER_S
        phase = rng.uniform(0, period_ms, len(tags))
        due = sorted((phase[d] + j * period_ms, d)
                     for j in range(n // len(tags) + 1) for d in range(len(tags)))[:n]
        out = []
        for t, d in due:
            m, a = tags[d]
            out.append([int(t), line(m, a, rng.normal(50, 10), int(ts[k]))])
            k += 1
        return out

    if open_loop:
        warm, posts = schedule(n_warm), schedule(n_post)
    else:
        # every tag writes equally often, in seeded order
        order = np.concatenate([rng.permutation(len(tags))
                                for _ in range(-(-n_post // len(tags)))])[:n_post]
        warm, posts = [], [line(*tags[d], rng.normal(50, 10), int(ts[k + i]))
                           for i, d in enumerate(order)]
        k += n_post
    probes = [line("bench_probe", "probe", rng.normal(50, 10), int(ts[k + i]))
              for i in range(PLC_PROBES)]
    # dashboard refreshes: every block of panels covers each measurement
    # at each time range once, in seeded order, so all seeds share one mix
    panels = []
    for _ in range(blocks):
        block = [(m, r, fn) for m in ms for r, fn in zip(PLC_RANGES_MIN, rng.permutation(
            ["mean", "max", "min"]))]
        for i in rng.permutation(len(block)):
            m, rng_min, fn = block[i]
            panels.append({"m": m, "fn": str(fn), "q":
                           f'SELECT {fn}("value") FROM "{m}" WHERE time >= now() - {rng_min}m '
                           f'GROUP BY time(1m), "alias"'})
    return {"now_ns": now_ns, "open_loop": open_loop, "tick_s": PLC_TICK_S if open_loop else 0,
            "measurements": ms, "aliases": aliases, "history": history,
            "warmup_posts": warm, "posts": posts, "writes_per_panel": PLC_WRITES_PER_PANEL,
            "warmup_rounds": PLC_WARMUP_ROUNDS,
            "probe_lines": probes, "panels": panels}


def stream_ingest(seed, seconds):
    rng = _rng(seed, 2)
    types = ["real", "int", "dint", "bool"]
    plcs = []
    for p in rng.choice(250, STREAM_PLCS, replace=False):
        datas = "".join(
            f"<data><data_type>{types[t % 4]}</data_type><area>DB</area>"
            f"<address>DB{int(rng.integers(1, 9))}.DBD{t * 4}</address>"
            f"<alias>line{int(p)}_{str(rng.choice(['temp', 'press', 'flow', 'speed']))}{t}</alias>"
            f"<active>True</active><interval>1s</interval></data>"
            for t in range(STREAM_TAGS))
        plcs.append(f'<plc slot="1">10.0.{int(p)}.1{datas}</plc>')
    return {"catalog_xml": "<communication>" + "".join(plcs) + "</communication>",
            "ticks_per_batch": STREAM_TICKS, "warmup_batches": STREAM_WARMUP_BATCHES,
            "batches": max(4, int(round(seconds / STREAM_BATCH_NOMINAL_S)))}


def corpus():
    """The fixed training corpus, as columns in doc_id order."""
    rng = np.random.default_rng(CORPUS_SEED)
    lens = rng.integers(10, 101, DOCS)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    # exact duplicates, then near-duplicates (an earlier text plus one token)
    for a, b in rng.choice(DOCS, (EXACT_DUPS, 2), replace=False):
        texts[max(a, b)] = texts[min(a, b)]
    for a, b in rng.choice(DOCS, (NEAR_DUPS, 2), replace=False):
        texts[max(a, b)] = texts[min(a, b)] + " dup"
    return {
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice([l for l, _ in LANGS], DOCS, p=[p for _, p in LANGS]),
        "source": [f"src{i % DOC_SOURCES}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def trainset_batch(seed, seconds, out_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table(corpus())
    order = _rng(seed, 3).permutation(DOCS)
    pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, "documents.parquet"))
    return {"documents": DOCS, "warmup_jobs": TRAINSET_WARMUP_JOBS,
            "jobs": max(5, int(round(seconds / TRAINSET_JOB_NOMINAL_S)))}


def make(workload, seed, seconds, out_dir, train=False):
    """Write the workload's inputs; `train` cuts the warm-up and the
    window to a few operations, for the run that records the class-data
    archive.
    """
    os.makedirs(out_dir, exist_ok=True)
    if workload in ("plc_node", "plc_node_open"):
        inputs = plc_node(seed, seconds, workload == "plc_node_open")
    elif workload == "stream_ingest":
        inputs = stream_ingest(seed, seconds)
    else:
        inputs = trainset_batch(seed, seconds, out_dir)
    if train:
        inputs.update({k: v for k, v in (("warmup_rounds", 1), ("warmup_batches", 1),
                                         ("warmup_jobs", 1), ("batches", 2), ("jobs", 2))
                       if k in inputs})
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    return inputs


def rows_hash(lines):
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def trainset_oracle_hash(sql, docs_path, cache_dir):
    """Hash of the oracle SQL's rows on the corpus, cached per (SQL, corpus
    content); the row order a seed gives the file does not change the rows.
    """
    h = hashlib.sha256(sql.encode())
    h.update(json.dumps({k: [str(x) for x in v] for k, v in corpus().items()}).encode())
    cache = os.path.join(cache_dir, "oracle-" + h.hexdigest()[:16] + ".txt")
    if os.path.exists(cache):
        with open(cache) as f:
            return f.read().strip()
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    rows = con.sql(sql).fetchall()
    digest = rows_hash(f"{d},{s},{r}" for d, s, r in rows)
    os.makedirs(cache_dir, exist_ok=True)
    with open(cache, "w") as f:
        f.write(digest)
    return digest
