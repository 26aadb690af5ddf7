#!/usr/bin/env python3
"""Seeded inputs for the benchmark workloads.

The curate tables follow `tools/gen_scale.py`: the base copy is the
sf0.001 fixture's `documents` and `embeddings`, kept verbatim under
`perfbench/base/` because a run reads nothing outside its checkout, and
it is replicated `COPIES` times with `gen_scale.py`'s per-copy key shifts
(document offsets divisible by 10 and 50, so the %-based samplers in the
declared queries see the same fraction in every copy). Copy 0 is the
fixture itself. The seed drives the perturbation of every other copy:
uniform embedding noise in [-0.05, 0.05], re-normalised, as in
`gen_scale.py`, and word edits in a share of the document copies, which
decides which copies stay near-duplicates of their base document. Fact
tables get about 32 row groups each, as in `gen_scale.py`, so Spark can
split their scans.

The stream workload's event log (`stream.tsv`) comes from the same seed:
a preloaded backlog, the bursts and the open-loop phase, each record's
text a base document picked by the seed, with a fixed share of duplicate
ids and a fixed share of out-of-order event times.

The same seed writes byte-identical files; a different seed writes
different ones.

Usage: python3 perfbench/gen.py <outdir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
COPIES = 2
# per-copy key shifts (gen_scale.py's offsets)
SHIFT = {"documents": ("doc_id", 100_000), "embeddings": ("vec_id", 1_000_000)}
EDIT_SHARE = 0.3      # document copies whose words are edited
EDIT_WORDS = 0.25     # share of a copy's words replaced, when edited


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def base(name):
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def vocabulary(docs):
    """The distinct words of the base documents: the edits draw from it."""
    return sorted({w for t in docs.column("text").to_pylist() for w in t.split(" ")})


def replica(t, name, seed, copy, vocab):
    """Copy `copy` of a base table: key shifted, payload perturbed."""
    if copy == 0:
        return t
    key, by = SHIFT[name]
    t = t.set_column(t.schema.get_field_index(key), key,
                     pc.add(t.column(key), pa.scalar(by * copy, t.schema.field(key).type)))
    if name == "documents":
        r = _rng(seed, 1000 + copy)
        texts = t.column("text").to_pylist()
        for i in np.flatnonzero(r.random(len(texts)) < EDIT_SHARE):
            words = texts[i].split(" ")
            for j in r.integers(0, len(words), max(1, int(len(words) * EDIT_WORDS))):
                words[j] = vocab[int(r.integers(0, len(vocab)))]
            texts[i] = " ".join(words)
        t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
        return t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                            pa.array([len(s) for s in texts], pa.int64()))
    r = _rng(seed, 2000 + copy)
    field = t.schema.field("embedding")
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    v = v + r.uniform(-0.05, 0.05, v.shape).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return t.set_column(t.schema.get_field_index("embedding"), field,
                        pa.array(v.tolist(), field.type))


def write_tables(out, seed):
    os.makedirs(out, exist_ok=True)
    docs = base("documents")
    vocab = vocabulary(docs)
    for name, t in (("documents", docs), ("embeddings", base("embeddings"))):
        big = pa.concat_tables([replica(t, name, seed, c, vocab) for c in range(COPIES)])
        pq.write_table(big, f"{out}/{name}.parquet",
                       row_group_size=max(1024, big.num_rows // 32))


# ---- stream_kafka event log ----------------------------------------------

STREAM_DUP_SHARE = 0.10   # records that repeat an earlier id of the same phase
STREAM_OOO_SHARE = 0.10   # records whose event time is earlier than their slot
BACKLOG = 2000            # preloaded records, drained by the first pass
BURST = 2000              # records per burst pass
BURSTS = 30               # more than a run uses
OPEN_LOOP = 1600          # records of the fixed-rate phase


def stream_phase(seed, phase, n, first_id, texts):
    """`n` records of one phase, ids from `first_id`, in send order:
    (id, ts_ms, user, text). A fixed share repeat an earlier id of the same
    phase with the same payload, as a retrying producer would resend it; a
    fixed share carry an event time up to two seconds earlier than their
    slot: out of order, but well inside the pipeline's watermark, so none is
    dropped as late."""
    r = _rng(seed, 5000 + phase)
    out = []
    ids = first_id
    for i in range(n):
        if out and r.random() < STREAM_DUP_SHARE:
            out.append(out[int(r.integers(max(0, len(out) - 200), len(out)))])
            continue
        ts = i if r.random() >= STREAM_OOO_SHARE else max(0, i - int(r.integers(1, 2000)))
        out.append((ids, ts, int(r.integers(0, 1000)), texts[int(r.integers(0, len(texts)))]))
        ids += 1
    return out


def write_stream(out, seed):
    """stream.tsv: phase, id, ts_ms, user, text. Phase 0 is the preloaded
    backlog, 1..BURSTS the bursts, -1 the open-loop phase."""
    os.makedirs(out, exist_ok=True)
    texts = base("documents").column("text").to_pylist()
    phases = [(0, BACKLOG)] + [(b, BURST) for b in range(1, BURSTS + 1)] + [(-1, OPEN_LOOP)]
    next_id = 1
    with open(f"{out}/stream.tsv", "w") as f:
        for phase, n in phases:
            recs = stream_phase(seed, phase, n, next_id, texts)
            next_id = max(rec[0] for rec in recs) + 1
            for rec in recs:
                f.write(f"{phase}\t{rec[0]}\t{rec[1]}\t{rec[2]}\t{rec[3]}\n")


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]))
