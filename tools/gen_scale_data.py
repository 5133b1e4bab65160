"""Generate scale-factor variants of the driver's synthetic corpus.

The driver ships read-only parquet at sf0.001/0.01/0.1
(/root/testdata, TESTDATA.md). To produce scale evidence above sf0.1
(VERDICT r02 item 2) we need sf1+ data with the *same workload
characteristics* — this script derives it from the sf0.1 corpus
itself rather than inventing new distributions:

- region/nation: fixed dimension tables, copied verbatim.
- customer/supplier/part/orders/lineitem/events: value columns are
  row-resampled (with replacement, whole rows, so intra-row
  correlations survive) from sf0.1; key columns are rewritten to the
  scaled key spaces (sequential PKs, uniform FKs — measured: the
  driver's own FKs are uniform and l_shipdate is independent of
  o_orderdate, diff stddev ~= 2400d/sqrt(6)).
- documents: token count uniform in [10, 100], lang from the measured
  frequency vector, 20 sources, and duplicates PLANTED at the driver's
  measured per-doc rates (sf0.01: 25 near-dup pairs per 500 docs with
  3-shingle Jaccard 0.95-0.99 — copies of an earlier doc truncated by
  1-3 trailing tokens — plus ~0.16% exact copies at sf0.1), so the
  dedup family has the same work density at every SF and pair counts
  stay ~linear in corpus size. The token DISTRIBUTION deliberately
  departs from the driver's (31 words, uniform): that tiny vocabulary
  saturates the 3-shingle space above ~5k docs (31^3 ≈ 30k distinct
  shingles, so at sf>=1 every shingle exceeds the MAX_DF stop-shingle
  cap and shingle-based recall collapses to 0 — the vacuous dd02
  curves VERDICT r03/r04 flagged). Real corpora don't do that: their
  Zipfian vocabularies keep most shingles rare at any corpus size. We
  draw tokens from a 50k-word Zipf-Mandelbrot distribution
  (p_i ∝ 1/(i+2.7)^1.07, the classic English fit), with the driver's
  31 words occupying the top ranks so small-SF text statistics stay
  familiar. Under this vocabulary the planted near-dup pairs are the
  ONLY systematic shingle collisions, so dd02/dd04 pair counts track
  the planted density linearly at every SF.
- embeddings: fresh unit-normalized N(0,1)^64 float32 vectors with
  uniform labels (measured: within-label cosine 0.0016 vs 0.0003
  cross — labels carry no geometry).

Row counts follow the driver's own scaling law (measured across its
three SFs): lineitem=6M*sf, orders=1.5M*sf, customer=150k*sf,
part=200k*sf, supplier=10k*sf, events=1M*sf over 15k*sf users (66.7
events per user), documents=max(500, 50k*sf), embeddings=max(500,
20k*sf); event timestamps stay inside the fixed 30-day window and
order dates inside 1995-2001, so time-bucket cardinalities are
constant and per-bucket density scales — same as the shipped corpus.

Usage: python tools/gen_scale_data.py SF [outdir]
Writes <repo>/.scaledata/sf{SF}/ by default (gitignored).
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = Path("/root/testdata/sf0.1")

VOCAB = (
    "a agg batch big blue bolt column customer data fast filter group "
    "hash join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()

VOCAB_SIZE = 50_000


def _zipf_vocab(rng: np.random.Generator):
    """50k-word vocabulary with Zipf-Mandelbrot probabilities. The
    driver's 31 words take the top ranks; the tail is deterministic
    pseudo-words (letters only, 3-9 chars) so language-ID and
    tokenizer heuristics see word-shaped tokens."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = list(VOCAB)
    seen = set(words)
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7) ** 1.07
    return np.array(words), p / p.sum()
# Measured lang frequencies in the driver corpus (sf0.1, n=5000).
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [2059 / 5000, 753 / 5000, 744 / 5000, 742 / 5000, 702 / 5000]


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(1, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _resample(table: str, n: int, rng: np.random.Generator,
              key_cols: dict[str, np.ndarray]) -> pa.Table:
    """Row-resample sf0.1 ``table`` to n rows, overriding key_cols."""
    src = pq.read_table(BASE / f"{table}.parquet")
    idx = rng.integers(0, src.num_rows, size=n)
    cols, names = [], []
    for field in src.schema:
        names.append(field.name)
        if field.name in key_cols:
            cols.append(pa.array(key_cols[field.name], type=field.type))
            continue
        col = src.column(field.name).combine_chunks()
        if pa.types.is_string(col.type):
            # dictionary-encode before the big take: 30M-row string
            # columns stay a small dictionary + int codes.
            col = col.dictionary_encode()
        cols.append(col.take(pa.array(idx)))
    return pa.table(cols, names=names)


def gen(sf: float, outdir: Path) -> None:
    rng = np.random.default_rng(42)
    outdir.mkdir(parents=True, exist_ok=True)
    n = _counts(sf)

    for t in ("region", "nation"):
        shutil.copyfile(BASE / f"{t}.parquet", outdir / f"{t}.parquet")

    pq.write_table(
        _resample(
            "customer", n["customer"], rng,
            {"c_custkey": np.arange(n["customer"], dtype=np.int64)},
        ),
        outdir / "customer.parquet",
    )
    pq.write_table(
        _resample(
            "supplier", n["supplier"], rng,
            {"s_suppkey": np.arange(n["supplier"], dtype=np.int64)},
        ),
        outdir / "supplier.parquet",
    )
    pq.write_table(
        _resample(
            "part", n["part"], rng,
            {"p_partkey": np.arange(n["part"], dtype=np.int64)},
        ),
        outdir / "part.parquet",
    )
    pq.write_table(
        _resample(
            "orders", n["orders"], rng,
            {
                "o_orderkey": np.arange(n["orders"], dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            },
        ),
        outdir / "orders.parquet",
    )
    nl = n["lineitem"]
    pq.write_table(
        _resample(
            "lineitem", nl, rng,
            {
                "l_orderkey": rng.integers(0, n["orders"], nl),
                "l_partkey": rng.integers(0, n["part"], nl),
                "l_suppkey": rng.integers(0, n["supplier"], nl),
            },
        ),
        outdir / "lineitem.parquet",
    )

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t1 = np.datetime64("2024-01-31T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t1, ne))
    pq.write_table(
        _resample(
            "events", ne, rng,
            {
                "event_id": np.arange(ne, dtype=np.int64),
                "user_id": rng.integers(0, n["users"], ne),
            },
        ).set_column(
            1, "ts", pa.array(ts, type=pa.timestamp("us"))
        ),
        outdir / "events.parquet",
    )

    nd = n["documents"]
    ntok = rng.integers(10, 101, nd)
    vocab, vocab_p = _zipf_vocab(rng)
    # inverse-CDF sampling: rng.choice with p re-sorts per call; one
    # searchsorted over the precomputed CDF handles 15M+ draws fast
    cdf = np.cumsum(vocab_p)
    flat = np.searchsorted(cdf, rng.random(int(ntok.sum())), side="right")
    flat = np.minimum(flat, len(vocab) - 1)
    offs = np.concatenate(([0], np.cumsum(ntok)))
    texts = [" ".join(vocab[flat[offs[i]:offs[i + 1]]]) for i in range(nd)]
    # planted duplication at the driver's measured density: ~5% of
    # docs are a near-copy of an earlier doc (1-3 trailing tokens
    # dropped → 3-shingle Jaccard ~0.95-0.99), ~0.16% exact copies
    for i in range(1, nd):
        r = rng.random()
        if r < 0.0016:
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.05:
            srctoks = texts[int(rng.integers(0, i))].split()
            k = int(rng.integers(1, 4))
            if len(srctoks) - k >= 10:
                texts[i] = " ".join(srctoks[:-k])
    langs = rng.choice(LANGS, nd, p=LANG_P)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
                "text": pa.array(texts, type=pa.string()),
                "lang": pa.array(langs, type=pa.string()),
                "source": pa.array(
                    [f"src{i % 20}" for i in rng.integers(0, 20, nd)],
                    type=pa.string(),
                ),
                "n_chars": pa.array(
                    np.array([len(t) for t in texts], dtype=np.int64)
                ),
            }
        ),
        outdir / "documents.parquet",
    )

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
                "embedding": pa.array(
                    list(vecs), type=pa.list_(pa.float32())
                ),
                "label": pa.array(
                    rng.integers(0, 10, nv).astype(np.int32),
                    type=pa.int32(),
                ),
            }
        ),
        outdir / "embeddings.parquet",
    )


def main() -> None:
    sf = float(sys.argv[1])
    out = (
        Path(sys.argv[2])
        if len(sys.argv) > 2
        else Path(__file__).resolve().parent.parent / ".scaledata" / f"sf{sf:g}"
    )
    gen(sf, out)
    for p in sorted(out.glob("*.parquet")):
        print(f"{p.name}: {pq.read_metadata(p).num_rows} rows")


if __name__ == "__main__":
    main()
