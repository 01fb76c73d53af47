"""compress_dedup: the Python boundary with many small groups and
binary/string payloads, writing beside reading.

Each operation takes a seed-chosen batch of series through
``encode_segments`` → parquet segment store → ``decode_segments`` →
collect (round-trip checked), then runs ``lsh_jaccard_dedup`` over a
seed-chosen slice of a document corpus that carries exact and near
duplicates.

The corpus is built the way the ``dedup_minhash_lsh`` oracle builds
its own from a ``documents`` table (every third document repeated as
id+10000, every fifth repeated without its last word as id+20000), so
the oracle text itself gives the reference pairs. The seed writes the
documents and assigns their ids. A slice keeps each document with its
duplicates, and the pairs LSH finds inside a slice are exactly the
reference pairs with both ids in it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.harness import Op
from perfbench.inputs import SERIES_SQL, duck, load_transcripts, write_parquet
from perfbench.oracle import ORACLE_CONVS, compare, oracle_frames

LATENCY_KIND = "batch"
CYCLE = 2                   # batches per cycle; a run measures whole cycles
WARM_CYCLES = 1             # untimed cycles before measuring: the gate runs no Spark job
N_DOCS = 1200
VOCAB = ("key agg row scan slow fast table value part hash merge batch a the "
         "line sort window order data column join small customer query big "
         "stream group filter vector spark join index page cache lock log "
         "node disk read write commit shard plan cost skew spill").split()
BATCH_CONVS = 32       # a batch takes this many whole conversations' series ...
MAX_CONV_POINTS = 1000  # ... among those with at most this many points ...
DOC_SHARE = 8          # ... and 1/8 of the document groups
SERIES_COLS = ["conv_id", "metric", "ts_epoch", "value"]  # the oracle's columns
PAIR_COLS = ["id_a", "id_b", "n_intersect", "n_union"]
NEAR_DUP_JACCARD = 0.8  # a candidate pair at or above this is a confirmed duplicate


@dataclass
class State:
    series: str
    corpus: str
    docs: pd.DataFrame       # the documents table the corpus derives from
    convs: list
    conv_points: dict        # conv_id -> its series points
    groups: list
    group_docs: dict
    want_series: pd.DataFrame = None   # segment_roundtrip oracle rows
    want_pairs: pd.DataFrame = None    # dedup_minhash_lsh oracle pairs
    n_out: int = 0


def make_documents(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    ids = rng.permutation(N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
             for _ in range(N_DOCS)]
    return pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts})


def corpus_of(docs: pd.DataFrame) -> pd.DataFrame:
    """The oracle's corpus construction (``_CORPUS_CTE``) in pandas."""
    exact = docs[docs.doc_id % 3 == 0].assign(doc_id=lambda d: d.doc_id + 10000)
    near = docs[docs.doc_id % 5 == 0].assign(
        doc_id=lambda d: d.doc_id + 20000,
        text=lambda d: d.text.str.split(" ").str[:-1].str.join(" "))
    out = pd.concat([docs, exact, near], ignore_index=True)
    return out.assign(grp=out.doc_id % 10000)


def setup(run, d: str) -> State:
    """The pinned transcripts' series and the seed's document corpus."""
    import pyarrow as pa

    spath, cpath = os.path.join(d, "series"), os.path.join(d, "corpus")
    with duck(run) as con:
        load_transcripts(con, ORACLE_CONVS)
        series = con.execute(f"{SERIES_SQL} ORDER BY conv_id, metric, idx").arrow()
    write_parquet(series, spath)
    docs = make_documents(run.seed)
    corpus = corpus_of(docs)
    write_parquet(pa.Table.from_pandas(corpus, preserve_index=False), cpath)
    points = pd.Series(series.column("conv_id").to_numpy()).value_counts()
    return State(series=spath, corpus=cpath, docs=docs,
                 convs=sorted(points.index), conv_points=points.to_dict(),
                 groups=sorted(int(g) for g in corpus.grp.unique()),
                 group_docs=corpus.groupby("grp").size().to_dict())


def gate(run, st: State) -> None:
    """The segment_roundtrip and dedup_minhash_lsh oracles become the
    reference every batch is compared against, column by column: the
    decoded series of the batch's conversations, and the oracle's pairs
    with both documents in the batch's slice of the corpus."""
    want = oracle_frames(["segment_roundtrip"], run.cores, os.environ["TMPDIR"])
    st.want_series = want["segment_roundtrip"]
    st.want_pairs = oracle_frames(["dedup_minhash_lsh"], run.cores, os.environ["TMPDIR"],
                                  documents=st.docs)["dedup_minhash_lsh"][PAIR_COLS]


def _out(run, st: State, name: str) -> str:
    st.n_out += 1
    return run.path("out", f"{st.n_out:05d}-{name}")


def segment_bytes(store: str) -> dict:
    t = pq.read_table(store, columns=["n", "idx_bytes", "ts_bytes", "val_bytes"])
    out = {c: sum(len(b) for b in t.column(c).to_pylist())
           for c in ("idx_bytes", "ts_bytes", "val_bytes")}
    out["points"] = int(pd.Series(t.column("n").to_numpy()).sum())
    return out


def batch_op(run, st: State, convs: list, groups: list) -> Op:
    from pyspark.sql import functions as F

    from matrixprofile_spark.operators import dedup as DD
    from matrixprofile_spark.operators import segments as SEG

    store = _out(run, st, "segments")

    def fn():
        spark = run.spark
        t0 = time.perf_counter()
        sub = spark.read.parquet(st.series).where(F.col("conv_id").isin(convs))
        SEG.encode_segments(sub).write.parquet(store)
        decoded = SEG.decode_segments(spark.read.parquet(store)).toPandas()
        t1 = time.perf_counter()
        docs = (spark.read.parquet(st.corpus).where(F.col("grp").isin(groups))
                .select("doc_id", "text"))
        pairs = DD.lsh_jaccard_dedup(docs).select(*PAIR_COLS).toPandas()
        return decoded, pairs, t1 - t0, time.perf_counter() - t1

    def check(out):
        decoded, pairs, seg_s, dedup_s = out
        ws = st.want_series
        errs = [f"decode(encode(x)): {e}" for e in compare(
            decoded[SERIES_COLS], ws[ws.conv_id.isin(convs)])]
        errs += [f"dedup pairs: {e}" for e in compare(pairs, expected_pairs(st.want_pairs, groups))]
        sizes = segment_bytes(store)
        return errs, {"points": len(decoded), "seg_s": seg_s, "dedup_s": dedup_s,
                      "docs": sum(st.group_docs[g] for g in groups),
                      "seg_bytes": sizes["idx_bytes"] + sizes["ts_bytes"] + sizes["val_bytes"]}

    return Op(LATENCY_KIND, fn, check)


def expected_pairs(ref: pd.DataFrame, groups) -> pd.DataFrame:
    """The reference pairs with both documents in the slice: LSH finds a
    pair exactly when the two documents share a band, whatever else is
    in the corpus (no bucket here comes near the size cap)."""
    g = set(int(x) for x in groups)
    return ref[ref.id_a.mod(10000).isin(g) & ref.id_b.mod(10000).isin(g)]


def batch_plan(seed: int, st: State):
    """Seeded batches of BATCH_CONVS conversations, one drawn from each
    of BATCH_CONVS equal-count strata of the conversations sorted by
    size. Every batch then carries the same number of groups and about
    the same number of points whichever conversations the seed picks:
    segment throughput is per-group-overhead bound, so a batch shape
    that moved with the seed would move points_per_s. The few hot
    conversations (~10x the points of the rest) stay out."""
    rng = np.random.default_rng(seed)
    sized = sorted((st.conv_points[c], c) for c in st.convs
                   if st.conv_points[c] <= MAX_CONV_POINTS)
    strata = np.array_split(np.array([c for _, c in sized], dtype=object), BATCH_CONVS)
    while True:
        convs = sorted(s[rng.integers(len(s))] for s in strata)
        groups = sorted(int(g) for g in rng.choice(st.groups, len(st.groups) // DOC_SHARE,
                                                   replace=False))
        yield convs, groups


def ops(run, st: State):
    for convs, groups in batch_plan(run.seed, st):
        yield batch_op(run, st, convs, groups)


def summarize(st: State, samples) -> tuple[float, dict]:
    """Points encoded plus decoded per segment second; the stored bytes
    per point and documents deduplicated per dedup second ride along."""
    seg_s = sum(s["seg_s"] for s in samples)
    points = sum(s["points"] for s in samples)
    return 2 * points / seg_s, {
        "segment_bytes_per_point": (sum(s["seg_bytes"] for s in samples) / points, "B"),
        "dedup_docs_per_s": (sum(s["docs"] for s in samples)
                             / sum(s["dedup_s"] for s in samples), "1/s"),
    }


def traced(run, st: State, tracer) -> dict:
    """One batch, every layer forced on its own."""
    from pyspark.sql import functions as F

    from matrixprofile_spark.operators import dedup as DD
    from matrixprofile_spark.operators import segments as SEG

    spark = run.spark
    convs, groups = next(batch_plan(run.seed, st))
    store = _out(run, st, "traced-segments")
    with tracer.span("op.batch"):
        with tracer.span("input"):
            sub = (spark.read.parquet(st.series).where(F.col("conv_id").isin(convs))
                   .localCheckpoint(eager=True))
        with tracer.span("segments.encode"):
            seg = SEG.encode_segments(sub).localCheckpoint(eager=True)
        with tracer.span("sink", path=store):
            seg.write.parquet(store)
        with tracer.span("segments.decode"):
            SEG.decode_segments(spark.read.parquet(store)).toPandas()
        with tracer.span("input"):
            docs = (spark.read.parquet(st.corpus).where(F.col("grp").isin(groups))
                    .select("doc_id", "text").localCheckpoint(eager=True))
        with tracer.span("dedup"):
            pairs = DD.lsh_jaccard_dedup(docs).toPandas()
    sigs = DD.minhash_signatures(DD.shingles(docs, n=3, distinct=False), 8)
    buckets = DD.hot_lsh_buckets(sigs, bands=4, max_bucket=0)
    sizes = segment_bytes(store)
    confirmed = int((pairs.jaccard >= NEAR_DUP_JACCARD).sum())
    return {
        "segments.bytes_per_point.idx": sizes["idx_bytes"] / sizes["points"],
        "segments.bytes_per_point.ts": sizes["ts_bytes"] / sizes["points"],
        "segments.bytes_per_point.val": sizes["val_bytes"] / sizes["points"],
        "dedup.candidate_pairs": len(pairs),
        "dedup.confirmed_pairs": confirmed,
        "dedup.useful_ratio": confirmed / max(1, len(pairs)),
        "dedup.max_bucket": int(buckets.agg(F.max("n_docs")).collect()[0][0] or 0),
    }


def trace_ops(run, st: State) -> list[Op]:
    """The traced pass's work as an ordinary operation, unforced."""
    return [batch_op(run, st, *next(batch_plan(run.seed, st)))]
