"""Seeded inputs for the reindex and ingest workloads.

The same seed gives byte-identical files. Only the generated files reach
the program.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# reindex: 8 indices; the stored filter keeps the six `docs-` ones
INDICES = [f"docs-{i:02d}" for i in range(6)] + ["tmp-00", "tmp-01"]
DOCS_PER_INDEX = 25_000  # a multiple of 10: the 1-in-10 drop keeps exactly 90%
FILES_PER_INDEX = 4

# ingest: one file per micro-batch; an untimed warm-up drain, then the
# timed drain
WARM_FILES = 1
STREAM_FILES = 3
DOCS_PER_FILE = 30

MASK64 = (1 << 64) - 1


def reindex(path, seed):
    """Docs with log-normal sizes (heavy tail), about one in 1000 null and
    one in 1000 NaN; the payload length follows the size."""
    rng = np.random.default_rng(seed)
    pool = rng.bytes(4096).hex()
    n = DOCS_PER_INDEX
    for i, name in enumerate(INDICES):
        size = np.round(rng.lognormal(7.0, 1.6, n))
        r = rng.integers(0, 1000, n)
        size[r == 1] = np.nan
        null = r == 0
        known = np.where(null | np.isnan(size), 0.0, size)
        lengths = np.clip(known // 64, 8, 256).astype(np.int64).tolist()
        offsets = rng.integers(0, len(pool) - 256, n).tolist()
        table = pa.table({
            "doc_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
            "size": pa.array(size, mask=null),
            "category": [f"c{c}" for c in rng.integers(0, 8, n).tolist()],
            "tier": ["std"] * n,
            "body": [pool[o:o + k] for o, k in zip(offsets, lengths)],
        })
        os.makedirs(os.path.join(path, name))
        step = n // FILES_PER_INDEX
        for k in range(FILES_PER_INDEX):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(path, name, f"part-{k:05d}.parquet"))


def bow_weight(word):
    """The weight graft's hashed bag-of-words quality classifier gives one
    word: poly-31 hash, low 8 bits as the bucket, the fixed weight table."""
    h = 0
    for ch in word:
        h = (h * 31 + ord(ch)) & MASK64
    b = h & 0xFF
    return ((b * 1103515245 + 12345) % 4001) - 2000


def ingest(path, seed):
    """The warm-up drain's files under `warm/`, the timed drain's under
    `stream/`, each set drawn with its own seed stream."""
    ingest_files(os.path.join(path, "warm"), np.random.default_rng([seed, 0]), WARM_FILES)
    ingest_files(os.path.join(path, "stream"), np.random.default_rng([seed, 1]), STREAM_FILES)


def ingest_files(path, rng, count):
    """Per file: 15% of docs copy a doc of the same file and 15% a doc of
    an earlier file (the first file copies within itself instead), 20%
    are junk that fails the quality gate, and half of the rest embed a
    span shared with other docs. Ids rise with file order, so the
    first-seen copy of a text is also its lowest id. Modification times
    follow file order, which is the order the stream picks the files up
    in."""
    letters = list("abcdefghijklmnopqrstuvwxyz")
    vocab = sorted({"".join(rng.choice(letters, int(rng.integers(3, 9)))) for _ in range(4000)})
    good = [w for w in vocab if bow_weight(w) > 500]
    bad = [w for w in vocab if bow_weight(w) < -500]

    def words(pool, k):
        return [pool[j] for j in rng.integers(0, len(pool), k).tolist()]

    spans = [" ".join(words(good, 25)) for _ in range(40)]
    n = DOCS_PER_FILE
    dups = round(0.15 * n)
    junk = round(0.20 * n)
    plain = (n - 2 * dups - junk) // 2
    roles = (["within"] * dups + ["across"] * dups + ["junk"] * junk + ["plain"] * plain
             + ["span"] * (n - 2 * dups - junk - plain))
    files = []
    doc_id = 0
    for _ in range(count):
        order = [roles[j] for j in rng.permutation(n)]
        first = next(j for j, r in enumerate(order) if r in ("plain", "span"))
        order[0], order[first] = order[first], order[0]
        rows = []
        for role in order:
            doc_id += 1
            if role == "across" and files:
                f = files[int(rng.integers(0, len(files)))]
                text = f[int(rng.integers(0, len(f)))][1]
            elif role in ("within", "across"):
                text = rows[int(rng.integers(0, len(rows)))][1]
            elif role == "junk":
                text = " ".join(words(bad, int(rng.integers(30, 60))))
            else:
                body = words(good, int(rng.integers(30, 80)))
                if role == "span":
                    at = int(rng.integers(0, len(body)))
                    body = body[:at] + [spans[int(rng.integers(0, len(spans)))]] + body[at:]
                text = " ".join(body)
            rows.append((doc_id, text))
        files.append(rows)
    os.makedirs(path)
    for i, rows in enumerate(files):
        f = os.path.join(path, f"batch-{i:03d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in rows], pa.int64()),
                                 "text": [t for _, t in rows]}), f)
        t = 1_600_000_000 + 10 * i
        os.utime(f, (t, t))


GENERATORS = {"reindex": reindex, "ingest": ingest}
