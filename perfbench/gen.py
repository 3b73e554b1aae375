"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, and each returns a manifest holding a content hash per
generated input plus the expected answers the correctness checks compare
against. The program under test never sees the seed, only the files.
"""
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ingest_replay shape: Binance-kline wire JSON landed as text files, one
# message per line, replayed as a backlog by the file stream source.
SYMBOLS = 200
INTERVALS = (("1m", 60_000), ("1h", 3_600_000))
LANDED_FILES = 10
REPLAY_FILES = 2
KLINES_PER_FILE = 250
DUP_SHARE = 0.20
MALFORMED_SHARE = 0.01

# indicator_backfill shape: kline_fact star-schema rows, one series per
# (symbol_id, interval_id), series lengths skewed LENGTH_SKEW x.
BACKFILL_SERIES = 400
BACKFILL_ROWS = 120_000
LENGTH_SKEW = 50
TAIL_SHARE = 0.02
TAIL_CHUNKS = 3   # incremental runs per round, each landing a third of the tail
RSI_N = 14

# query_mix corpus: the TESTDATA.md table shapes at scale factor QUERY_SF.
QUERY_SF = 0.01


def key_hash(keys):
    """Order-independent multiset hash of key strings: the sum mod 2^64 of
    the first 8 bytes (big-endian) of each key's MD5. The harness computes
    the same over the sink's rows."""
    total = 0
    for k in keys:
        total += int.from_bytes(hashlib.md5(k.encode()).digest()[:8], "big")
    return str(total % (1 << 64))


def _file_sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _tree_sha(root):
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            h.update(_file_sha(p).encode())
    return h.hexdigest()


def _write_parquet(table, path):
    # no statistics timestamps or writer-dependent metadata beyond the
    # library version: the same table always gives the same bytes
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", write_statistics=True)


def _decimal(unscaled, precision, scale):
    """decimal128 column from int64 unscaled values without Python objects."""
    lo = np.asarray(unscaled, dtype=np.int64)
    words = np.empty((len(lo), 2), dtype=np.int64)
    words[:, 0] = lo
    words[:, 1] = lo >> 63
    return pa.Array.from_buffers(pa.decimal128(precision, scale), len(lo),
                                 [None, pa.py_buffer(words.tobytes())])


# --------------------------------------------------------------------------
# ingest_replay
# --------------------------------------------------------------------------

def _zipf_weights(n, a, rng):
    w = 1.0 / np.arange(1, n + 1) ** a
    return rng.permutation(w / w.sum())


def gen_ingest(seed, out):
    rng = np.random.default_rng([seed, 1])
    series = [(f"SYM{s:03d}USDT", iv, ms)
              for s in range(SYMBOLS) for iv, ms in INTERVALS]
    n_klines = LANDED_FILES * KLINES_PER_FILE
    # Zipf-skewed keys: a few series receive most of the klines
    owner = rng.choice(len(series), size=n_klines, p=_zipf_weights(len(series), 1.1, rng))
    counts = np.bincount(owner, minlength=len(series))
    base_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    klines = []
    for sid, n in enumerate(counts):
        sym, iv, ms = series[sid]
        price = rng.uniform(10, 1000)
        for k in range(int(n)):
            open_ms = base_ms + k * ms
            price = max(0.01, price * (1 + rng.normal(0, 0.01)))
            klines.append((sym, iv, open_ms, ms, round(price, 2)))
    order = rng.permutation(len(klines))
    klines = [klines[i] for i in order]
    files = [[] for _ in range(LANDED_FILES)]
    for i, kl in enumerate(klines):
        files[i // KLINES_PER_FILE].append(kl)

    def wire(kl, fetched):
        sym, iv, open_ms, ms, close = kl
        return json.dumps({
            "symbol": sym, "interval": iv, "open_time": open_ms,
            "open": f"{close * 0.999:.2f}", "high": f"{close * 1.004:.2f}",
            "low": f"{close * 0.995:.2f}", "close": f"{close:.2f}",
            "volume": f"{(open_ms % 997) * 1.5:.4f}",
            "close_time": open_ms + ms - 1, "fetched_at": fetched},
            separators=(",", ":"))

    lines = [[wire(kl, "2024-06-01T00:00:00") for kl in f] for f in files]
    # redelivered duplicates: half land in the same file (same micro-batch),
    # half in a later file (a later micro-batch)
    n_dup = int(n_klines * DUP_SHARE)
    for d in range(n_dup):
        src = int(rng.integers(LANDED_FILES))
        kl = files[src][int(rng.integers(len(files[src])))]
        if d % 2 == 0:
            dst = src
        else:
            dst = min(LANDED_FILES - 1, src + 1 + int(rng.integers(8)))
            if dst == src:
                dst = src - 1 - int(rng.integers(min(src, 8)))
        pos = int(rng.integers(len(lines[dst]) + 1))
        lines[dst].insert(pos, wire(kl, "2024-06-01T00:00:07"))
    malformed = [
        lambda kl: wire(kl, "x")[:-17],                                # truncated
        lambda kl: "not json at all",
        lambda kl: wire(kl, "x").replace('"symbol"', '"sym"'),          # no symbol
        lambda kl: wire(kl, "x").replace('"open_time"', '"opentime"'),  # no open_time
    ]
    n_bad = int(n_klines * MALFORMED_SHARE)
    for b in range(n_bad):
        dst = int(rng.integers(LANDED_FILES))
        kl = files[dst][0]
        lines[dst].insert(int(rng.integers(len(lines[dst]) + 1)), malformed[b % 4](kl))

    landing = os.path.join(out, "landing")
    replay = os.path.join(out, "replay")
    os.makedirs(landing)
    os.makedirs(replay)
    for i, ls in enumerate(lines):
        body = ("\n".join(ls) + "\n").encode()
        with open(os.path.join(landing, f"part-{i:05d}.json"), "wb") as f:
            f.write(body)
        if i >= LANDED_FILES - REPLAY_FILES:
            with open(os.path.join(replay, f"part-{i:05d}.json"), "wb") as f:
                f.write(body)
    keys = {f"{s}|{iv}|{o // 1000}" for s, iv, o, _, _ in klines}
    return {
        "messages": sum(len(ls) for ls in lines),
        "replay_messages": sum(len(ls) for ls in lines[-REPLAY_FILES:]),
        "malformed": n_bad,
        "files": LANDED_FILES,
        "replay_files": REPLAY_FILES,
        "expected_keys": len(keys),
        "expected_key_hash": key_hash(keys),
        "hashes": {"landing": _tree_sha(landing), "replay": _tree_sha(replay)},
    }


# --------------------------------------------------------------------------
# indicator_backfill
# --------------------------------------------------------------------------

def _series_lengths(rng, total):
    rank = rng.permutation(BACKFILL_SERIES) / (BACKFILL_SERIES - 1)
    shape = 1.0 / (1.0 + (LENGTH_SKEW - 1) * rank)   # longest / shortest = skew
    return np.maximum(RSI_N + 2, np.round(shape / shape.sum() * total)).astype(np.int64)


def _rsi_null_count(close_cents, lo, hi):
    """Indicator rows the job drops on the new tail of one series: RSI is NULL
    where the trailing RSI_N-row window holds no loss (Cutler's RSI divides
    by the average loss). SMA and both Bollinger bands are never NULL past
    the first row of a series."""
    diff = np.diff(close_cents, prepend=close_cents[0])
    loss = (diff < 0).astype(np.int64)
    win = np.convolve(loss, np.ones(RSI_N, dtype=np.int64))[:len(loss)]
    return int((win[lo:hi] == 0).sum())


def gen_backfill(seed, out):
    rng = np.random.default_rng([seed, 2])
    lengths = _series_lengths(rng, BACKFILL_ROWS)
    tails = np.maximum(1, np.round(lengths * TAIL_SHARE)).astype(np.int64)
    interval_ms = (60_000, 3_600_000)
    base_s = 1_672_531_200  # 2023-01-01T00:00:00Z
    cols = {k: [] for k in ("kline_id", "symbol_id", "interval_id", "close",
                             "open_time", "chunk")}
    expected_incr = [0] * TAIL_CHUNKS
    next_id = 0
    for s, (n_old, n_new) in enumerate(zip(lengths, tails)):
        n = int(n_old + n_new)
        symbol_id, interval_id = s // 2 + 1, s % 2 + 1
        step = interval_ms[interval_id - 1] // 1000
        start = int(rng.uniform(100, 10_000) * 100)
        walk = np.cumsum(rng.integers(-25, 26, size=n))
        close = np.maximum(1, start + walk).astype(np.int64)   # cents
        cuts = n_old + np.linspace(0, n_new, TAIL_CHUNKS + 1).round().astype(np.int64)
        chunk = np.zeros(n, dtype=np.int64)   # 0 = backfilled history
        for j in range(TAIL_CHUNKS):
            lo, hi = int(cuts[j]), int(cuts[j + 1])
            chunk[lo:hi] = j + 1
            expected_incr[j] += 4 * (hi - lo) - _rsi_null_count(close, lo, hi)
        cols["kline_id"].append(np.arange(next_id, next_id + n, dtype=np.int64))
        cols["symbol_id"].append(np.full(n, symbol_id, dtype=np.int32))
        cols["interval_id"].append(np.full(n, interval_id, dtype=np.int32))
        cols["close"].append(close)
        cols["open_time"].append(base_s + step * np.arange(n, dtype=np.int64))
        cols["chunk"].append(chunk)
        next_id += n
    c = {k: np.concatenate(v) for k, v in cols.items()}
    step_s = np.where(c["interval_id"] == 1, 60, 3600)
    cents_to_dec = 10 ** 8   # cents -> DECIMAL(20,10) unscaled

    def table(mask):
        close = c["close"][mask]
        opn = np.maximum(1, close + (c["kline_id"][mask] % 7) - 3)
        ot = c["open_time"][mask]
        return pa.table({
            "kline_id": c["kline_id"][mask],
            "symbol_id": c["symbol_id"][mask],
            "interval_id": c["interval_id"][mask],
            "open_price": _decimal(opn * cents_to_dec, 20, 10),
            "high_price": _decimal(np.maximum(opn, close) * cents_to_dec + 5 * cents_to_dec, 20, 10),
            "low_price": _decimal(np.maximum(1, np.minimum(opn, close) - 5) * cents_to_dec, 20, 10),
            "close_price": _decimal(close * cents_to_dec, 20, 10),
            "volume": _decimal(c["kline_id"][mask] % 1000 * 10 ** 18, 38, 18),
            "open_time": pa.array(ot * 1_000_000, pa.timestamp("us", tz="UTC")),
            "close_time": pa.array((ot + step_s[mask] - 1) * 1_000_000,
                                   pa.timestamp("us", tz="UTC")),
        })

    fact = os.path.join(out, "kline_fact")
    os.makedirs(fact)
    for j in range(TAIL_CHUNKS + 1):
        _write_parquet(table(c["chunk"] == j), os.path.join(fact, f"part-{j:05d}.parquet"))
    # sampled series for the plain-Scala reference check: the longest, the
    # shortest and a few drawn by seed
    order = np.argsort(lengths)
    picks = sorted({int(order[-1]), int(order[0])} |
                   {int(x) for x in rng.choice(BACKFILL_SERIES, 4, replace=False)})
    return {
        "rows": int(lengths.sum()),
        "tail_rows": int(tails.sum()),
        "tail_chunks": TAIL_CHUNKS,
        "series": BACKFILL_SERIES,
        "longest_series": int(lengths.max()),
        "shortest_series": int(lengths.min()),
        "expected_incremental_rows": expected_incr,
        "sample_series": [[p // 2 + 1, p % 2 + 1] for p in picks],
        "hashes": {"kline_fact": _tree_sha(fact)},
    }


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

UTC = datetime.timezone.utc

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _ts_us(values):
    return pa.array(np.asarray(values, dtype=np.int64), pa.timestamp("us"))


def gen_corpus(seed, out):
    rng = np.random.default_rng([seed, 3])
    sf = QUERY_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    day_us = 86_400 * 1_000_000
    d1995 = int(datetime.datetime(1995, 1, 1, tzinfo=UTC).timestamp()) * 1_000_000
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_us(d1995 + rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us(d1995 + rng.integers(1, 2500, n_line) * day_us)})
    jan2024 = int(datetime.datetime(2024, 1, 1, tzinfo=UTC).timestamp()) * 1_000_000
    ev_ts = np.sort(rng.choice(30 * day_us, n_ev, replace=False)) + jan2024
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us(ev_ts),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS),
                                                                 int(rng.integers(10, 101)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    hashes = {}
    for name, t in tables.items():
        p = os.path.join(corpus, f"{name}.parquet")
        _write_parquet(t, p)
        hashes[name] = _file_sha(p)
    return {"sf": sf, "rows": {k: t.num_rows for k, t in tables.items()},
            "hashes": hashes}


GENERATORS = {
    "ingest_replay": gen_ingest,
    "indicator_backfill": gen_backfill,
    "query_mix": gen_corpus,
}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out` (which must not
    exist yet) and return the manifest."""
    os.makedirs(out)
    manifest = GENERATORS[workload](seed, out)
    manifest.update(workload=workload, seed=seed)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
