"""Output checks. Batch results are fingerprinted (an order-insensitive hash
plus a row count) and compared with the DuckDB oracle each query declares
in `SparkEntry.oracleSql`, under the compare contract of
`tools/check_oracle.py`. Queries whose oracle is a committed golden of the
fixture scale are checked for invariants instead. Stream output is
checked against the generator's ledger: every distinct id exactly once,
with the right payload."""
import glob
import hashlib
import math
import os
import pickle
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["documents", "embeddings"]


def compare_frames(mine, orc):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from check_oracle import compare_frames as contract
    finally:
        sys.path.pop(0)
    return contract(mine, orc)


def _cell(v):
    # the contract compares str() of values and tells int 1 from float 1.0
    if isinstance(v, float):
        return "f:" + ("nan" if math.isnan(v) else repr(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return "i:" + str(int(v))
    return type(v).__name__ + ":" + str(v)


def fingerprint(df):
    """(row count, order-insensitive hash) over sorted column names."""
    cols = sorted(df.columns)
    acc = 0
    for row in df[cols].itertuples(index=False, name=None):
        h = hashlib.blake2b("\x1f".join(_cell(v) for v in row).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return len(df), f"{acc:016x}"


def connect(data, scratch):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{scratch}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def txt_signals_sql(sig):
    """The committed oracle joins fixture goldens for its deflate and BPE
    columns (DuckDB has no zlib, and the tokenizer is trained by the
    engine); `tools/check_sf1_r7.py` drops those columns and recomputes
    n_bytes in SQL. Same rewrite here."""
    marker = "cr AS (SELECT doc_id, n_bytes, n_deflate, ratio_ppm"
    start = sig.index(marker)
    end = sig.index(")", sig.index("read_parquet", start)) + 1
    sig = sig[:start] + ("cr AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes"
                         " FROM documents") + sig[end:]
    sig = sig.replace(" cr.n_bytes, cr.n_deflate, cr.ratio_ppm,", " cr.n_bytes,")
    bt_start = sig.index("bt AS (SELECT doc_id, bpe_tokens AS bpe_true")
    bt_end = sig.index("ec AS (")
    sig = sig[:bt_start] + sig[bt_end:]
    return sig.replace(",\n bt.bpe_true", "").replace("\nJOIN bt USING (doc_id)", "")


DROP = {"txt_signals": ("n_deflate", "ratio_ppm", "bpe_true")}


def oracle_frame(con, name, sql, cache_dir):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def _vectors(con):
    rows = con.sql("SELECT vec_id, embedding FROM embeddings").fetchall()
    ids = {r[0]: i for i, r in enumerate(rows)}
    vecs = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    return ids, vecs


def _cos(vecs, a, b):
    va, vb = vecs[a], vecs[b]
    return float(va @ vb / (math.sqrt(va @ va) * math.sqrt(vb @ vb)))


def check_knn_graph(con, df, k=3):
    """Each source lists up to k distinct other vectors, ranked 1..n by
    (sim desc, dst asc), each sim_ppm matching the recomputed cosine."""
    ids, vecs = _vectors(con)
    if len(df) == 0:
        return "empty k-NN graph"
    if set(df["src_id"]) != set(ids):
        return f"k-NN graph covers {df['src_id'].nunique()} of {len(ids)} vectors"
    for src, g in df.groupby("src_id"):
        g = g.sort_values("rank")
        if list(g["rank"]) != list(range(1, len(g) + 1)) or len(g) > k:
            return f"src {src}: ranks {list(g['rank'])}"
        if src in set(g["dst_id"]) or g["dst_id"].nunique() != len(g):
            return f"src {src}: bad neighbours {list(g['dst_id'])}"
        prev = None
        for dst, ppm in zip(g["dst_id"], g["sim_ppm"]):
            want = math.floor(_cos(vecs, ids[src], ids[dst]) * 1e6)
            if abs(want - ppm) > 1:
                return f"src {src} dst {dst}: sim_ppm {ppm} vs {want}"
            if prev is not None and ppm > prev:
                return f"src {src}: ranks not by similarity"
            prev = ppm
    return None


INVARIANTS = {"sim_knn_graph": check_knn_graph}


def check_batch(data, results_dir, oracle_sql, queries, cache_dir):
    """Returns {query: (ok, detail)}: detail is the fingerprint or the
    reason the check failed."""
    con = connect(data, os.path.join(results_dir, "duckdb-tmp"))
    out = {}
    for name in queries:
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out[name] = (False, "no result written")
            continue
        try:
            mine = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            mine = mine.drop(columns=[c for c in DROP.get(name, ()) if c in mine.columns])
            fp = fingerprint(mine)
            if name in INVARIANTS:
                err = INVARIANTS[name](con, mine)
                out[name] = (err is None, err or f"invariants hold, rows={fp[0]} hash={fp[1]}")
                continue
            sql = oracle_sql.get(name)
            if sql is None:
                out[name] = (False, "no oracle declared")
                continue
            if name == "txt_signals":
                sql = txt_signals_sql(sql)
            orc = oracle_frame(con, name, sql, cache_dir)
            if fingerprint(orc) == fp:
                out[name] = (True, f"rows={fp[0]} hash={fp[1]}")
            else:
                err = compare_frames(mine, orc)
                out[name] = (err is None, err or f"rows={fp[0]} hash={fp[1]} (contract match)")
        except Exception as e:  # a checker crash is a failed check, not a pass
            out[name] = (False, f"{type(e).__name__}: {e}")
    return out


def read_tsv(path, cast=int):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [[cast(x) for x in line.rstrip("\n").split("\t")] for line in f if line.strip()]


def expected_counts(text):
    """(alpha, words) of FastHash.textCounts for the generator's
    single-spaced lowercase text."""
    return sum(c.isascii() and c.isalpha() for c in text), len(text.split())


def check_stream(ledger, sends, arrivals):
    """ledger: id -> text; sends: id -> due ns; arrivals: [(id, ns, alpha,
    words)]. Returns (attempted, failed, first arrival per id, problems)."""
    seen = {}
    problems = []
    failed = 0
    wrong = set()
    for rid, ns, alpha, words in arrivals:
        if rid not in sends:
            failed += 1
            problems.append(f"unexpected id {rid} at the sink")
            continue
        if rid in seen:
            failed += 1
            problems.append(f"id {rid} delivered twice")
            continue
        seen[rid] = ns
        if (alpha, words) != expected_counts(ledger[rid]) and rid not in wrong:
            wrong.add(rid)
            failed += 1
            problems.append(f"id {rid}: counts {(alpha, words)} vs "
                            f"{expected_counts(ledger[rid])}")
    missing = [i for i in sends if i not in seen]
    failed += len(missing)
    if missing:
        problems.append(f"{len(missing)} ids missing at the sink, e.g. {missing[:3]}")
    unknown = [i for i in sends if i not in ledger]
    if unknown:
        failed += len(unknown)
        problems.append(f"{len(unknown)} sent ids are not in the event log")
    return len(sends), failed, seen, problems


def load_ledger(path):
    """The stream event log: id -> text, and the record count per phase."""
    ledger, sizes = {}, {}
    with open(path) as f:
        for line in f:
            phase, rid, _, _, text = line.rstrip("\n").split("\t", 4)
            ledger[int(rid)] = text
            sizes[int(phase)] = sizes.get(int(phase), 0) + 1
    return ledger, sizes
