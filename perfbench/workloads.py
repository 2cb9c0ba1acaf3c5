"""The two workloads: ``ingest`` and ``serve``.

Both are closed loops with one client: the next op starts when the previous
one has returned, the way a RAG caller waits for its answer. Every op goes
through the package's public entry points only — ``PipelineRunner`` stages,
``CollectionStore`` and ``search.search_with_scores``.

``serve`` answers queries from a seeded mix over a bulk-loaded corpus and,
one op in ten, writes beside the reads: a small upsert into the write-hot
collection followed by a read-your-writes query (the ``refresh`` kind).
Every hit list is checked against a NumPy brute-force top-k over the corpus
vectors, which the workload keeps current as it upserts.
"""

from __future__ import annotations

import itertools
import random
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import gen
from vectordb_etl_spark import quality, search
from vectordb_etl_spark.config import PipelineConfig, StoreConfig
from vectordb_etl_spark.embeddings import HashEmbedder
from vectordb_etl_spark.functions.language import detect_language_query
from vectordb_etl_spark.pipeline import PipelineRunner

K = 5
SCORE_TOL = 2e-6

# ingest: documents per batch and unmeasured warm-up batches
BATCH_DOCS = 40
INGEST_WARMUP = 2

# serve: corpus size, IVF layout and the op pattern. The write-hot
# collection carries no index (fan-out serves it by exact scan), so upserts
# never leave an index stale. No traffic or corpus-size evidence exists for
# this system; the sizes and the mix below are chosen to fit the run budget
# and keep runs steady (see README.md, "Where the mix and sizes come from").
CORPUS_DOCS = 360
INDEXED = ("html_news", "html_manuals")
HOT = "html_faq"
NLIST, NPROBE = 8, 3
UPSERT_REPLACE, UPSERT_NEW = 3, 3
# A fixed interleaving, so a run cut mid-cycle keeps the mix's proportions,
# with the slow kinds early so even a short window measures each of them.
# Exact scans lead because index_kind=None is search_with_scores' default;
# the 5:3:1:1 proportions are a choice, not a measurement. Eight fast ops in
# ten keep the median inside the fast cluster. The seed picks the queries,
# filters and upserted rows.
PATTERN = ("exact", "ivf", "filtered", "exact", "refresh",
           "exact", "filtered", "exact", "filtered", "exact")
SERVE_WARMUP_KINDS = ("exact", "ivf", "filtered", "refresh", "exact")

# Milvus-style filter strings and the same predicate over a stored row
FILTERS = (
    ('language == "korean"', lambda r: r["language"] == "korean"),
    ('language == "english" and chunk_index == 0',
     lambda r: r["language"] == "english" and r["chunk_index"] == 0),
    ('folder_name in ["news", "faq"]',
     lambda r: r["folder_name"] in ("news", "faq")),
    ('chunk_index >= 1 and language == "english"',
     lambda r: r["chunk_index"] >= 1 and r["language"] == "english"),
)


@dataclass
class Op:
    op_id: str
    kind: str
    measured: bool
    t0: float = 0.0
    t1: float = 0.0
    ok: bool = False
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def runner_for(spark, work: Path) -> PipelineRunner:
    return PipelineRunner(
        spark,
        PipelineConfig(
            checkpoint_dir=str(work / "checkpoints"),
            store=StoreConfig(warehouse_dir=str(work / "warehouse"),
                              nprobe=NPROBE),
        ),
    )


def data_files(runner: PipelineRunner) -> dict[str, int]:
    """Parquet part files of the collections -> bytes. The store keeps its
    collections as ``collection=<name>`` partitions under
    ``<warehouse>/collections``; dot-prefixed swap directories are skipped."""
    root = Path(runner.config.store.warehouse_dir) / "collections"
    return {
        str(p): p.stat().st_size
        for p in root.rglob("*.parquet")
        if not any(part.startswith(".") for part in p.relative_to(root).parts)
    }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest:
    """A stream of fresh HTML directories, one per op:
    ``extract(batch_dir) -> transform() -> load(drop_existing=False)``."""

    name = "ingest"
    warmup_ops = INGEST_WARMUP
    mix = {"batch": 1.0}

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.runner = runner_for(spark, work)
        self.names: set[str] = set()
        self.loaded_rows = 0
        self.inputs = {"docs": 0, "html_bytes": 0, "chunks": 0}

    def setup(self, tracer) -> None:
        pass

    def kinds(self):
        return itertools.repeat("batch")

    def prepare(self, op: Op, i: int):
        docs = gen.make_docs(self.seed, BATCH_DOCS, tag=f"b{i:04d}")
        batch_dir = self.work / "input" / f"b{i:04d}"
        html_bytes = gen.write_tree(batch_dir, docs)
        self.names.update(d.name for d in docs)
        self.inputs["docs"] += len(docs)
        self.inputs["html_bytes"] += html_bytes
        op.extra["docs"] = len(docs)
        return str(batch_dir)

    def run(self, op: Op, batch_dir: str) -> None:
        e = self.runner.extract(batch_dir)
        t = self.runner.transform()
        ld = self.runner.load(drop_existing=False)
        op.extra.update(extract_rows=e.rows, chunks=t.rows, loaded=ld.rows)

    def after(self, op: Op) -> None:
        self.loaded_rows += op.extra.get("loaded", 0)
        self.inputs["chunks"] += op.extra.get("loaded", 0)

    def check(self) -> None:
        store = self.runner.store
        df = store.read()
        report = quality.validate_pipeline(df)
        require(report.total_chunks == self.loaded_rows,
                f"validate_pipeline counts {report.total_chunks} chunks, "
                f"loads reported {self.loaded_rows}")
        rows = df.select("chunk_id", "source").collect()
        ids = [r["chunk_id"] for r in rows]
        require(len(ids) == len(set(ids)), "a chunk_id is stored twice")
        stored = {r["source"].rsplit("/", 1)[-1] for r in rows}
        missing = self.names - stored
        require(not missing, f"{len(missing)} generated sources not stored, "
                f"e.g. {sorted(missing)[:3]}")
        sample = random.Random(self.seed).sample(ids, min(8, len(ids)))
        emb = HashEmbedder(self.runner.config.embedding.dimension)
        for r in df.filter(df.chunk_id.isin(sample)).select(
            "chunk_id", "text", "embedding"
        ).collect():
            got = np.asarray(r["embedding"], dtype=np.float32)
            require(np.array_equal(got, emb.embed_one(r["text"])),
                    f"stored embedding of {r['chunk_id']} differs from "
                    "HashEmbedder.embed_one")
        self.inputs["collections"] = len(store.list_collections())

    def summary(self, measured: list[Op]) -> dict:
        secs = sum(o.t1 - o.t0 for o in measured)
        docs = sum(o.extra["docs"] for o in measured)
        return {
            "docs_per_s": {"value": docs / secs if secs else 0.0,
                           "unit": "1/s",
                           "input": f"{BATCH_DOCS}-doc HTML batches"},
        }


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Reference:
    """The corpus as the store should hold it, for brute-force top-k."""

    FIELDS = ("chunk_id", "collection", "language", "chunk_index",
              "folder_name")

    def __init__(self, rows):
        self.rows = [{f: r[f] for f in self.FIELDS} for r in rows]
        self.pos = {r["chunk_id"]: i for i, r in enumerate(self.rows)}
        self.emb = np.asarray([r["embedding"] for r in rows], dtype=np.float64)

    def put(self, row: dict, vec: np.ndarray) -> None:
        i = self.pos.get(row["chunk_id"])
        if i is None:
            self.pos[row["chunk_id"]] = len(self.rows)
            self.rows.append({f: row[f] for f in self.FIELDS})
            self.emb = np.vstack([self.emb, vec.astype(np.float64)])
        else:
            self.rows[i] = {f: row[f] for f in self.FIELDS}
            self.emb[i] = vec

    def topk(self, q: list[float], pred, k: int):
        """Cosine, rounded to 6 dp like the exact tier, ties by chunk_id."""
        qv = np.asarray(q, dtype=np.float64)
        idx = [i for i, r in enumerate(self.rows) if pred(r)]
        e = self.emb[idx]
        cos = (e @ qv) / (np.sqrt((e * e).sum(axis=1)) * np.sqrt(qv @ qv))
        scores = np.round(cos, 6)
        order = sorted(range(len(idx)),
                       key=lambda j: (-scores[j], self.rows[idx[j]]["chunk_id"]))
        return [(self.rows[idx[j]]["chunk_id"], float(scores[j]))
                for j in order[:k]]


def same_hits(hits, expected) -> bool:
    """``hits`` equal the first K of ``expected`` (which holds K + 1, to see
    a tie at the cut): scores within SCORE_TOL at every rank, and ids equal
    except where the reference has a near-tie with a neighbouring rank —
    summation order may move a 6-dp rounding edge."""
    got = [(h.metadata["chunk_id"], h.score) for h in hits]
    if len(got) != min(K, len(expected)):
        return False
    for j, ((gid, gs), (eid, es)) in enumerate(zip(got, expected)):
        tie = any(
            0 <= n < len(expected) and abs(expected[n][1] - es) <= SCORE_TOL
            for n in (j - 1, j + 1)
        )
        if abs(gs - es) > SCORE_TOL or (gid != eid and not tie):
            return False
    return True


class Serve:
    """Bulk-loaded corpus with one IVF index per cold collection; each op is
    one ``search_with_scores`` call (``exact``/``filtered``/``ivf``) or a
    ``refresh``: upsert into the write-hot collection, then read it back."""

    name = "serve"
    warmup_ops = len(SERVE_WARMUP_KINDS)
    mix = {k: PATTERN.count(k) / len(PATTERN) for k in set(PATTERN)}

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.runner = runner_for(spark, work)
        self.store = self.runner.store
        self.rng = random.Random(f"{seed}:serve")
        self.embedder = HashEmbedder(self.runner.config.embedding.dimension)
        self.new_keys = 0
        self.inputs: dict = {}

    def setup(self, tracer) -> None:
        docs = gen.make_docs(self.seed, CORPUS_DOCS, tag="c")
        html_bytes = gen.write_tree(self.work / "corpus", docs)
        with tracer.span("pipeline.bulk_load"):
            e = self.runner.extract(str(self.work / "corpus"))
            t = self.runner.transform()
            ld = self.runner.load(drop_existing=True)
        for c in INDEXED:
            self.store.build_index(c, kind="ivf", nlist=NLIST, seed=self.seed)
        self.ref = Reference(
            self.store.read().select(*Reference.FIELDS, "embedding").collect()
        )
        hot = self.store.read(HOT).drop("collection", "embedding")
        self.schema = hot.schema
        self.hot_rows = {r["chunk_id"]: r.asDict() for r in hot.collect()}
        self.replaceable = sorted(
            k for k, r in self.hot_rows.items() if r["language"] == "english"
        )
        self.hot_count0 = len(self.hot_rows)
        self.inputs = {
            "docs": e.rows, "html_bytes": html_bytes, "chunks": ld.rows,
            "collections": len(ld.extra["collections"]),
            "chunks_per_doc": t.rows / e.rows,
        }

    def kinds(self):
        yield from SERVE_WARMUP_KINDS
        yield from itertools.cycle(PATTERN)

    # -- inputs ---------------------------------------------------------------

    def _query(self) -> str:
        if self.rng.random() < 0.2:
            return " ".join(self.rng.sample(gen.KO_WORDS, 4))
        return " ".join(self.rng.sample(gen.EN_WORDS, 6))

    def _text(self, tag: str) -> str:
        return f"{tag} " + " ".join(self.rng.choice(gen.EN_WORDS) for _ in range(30))

    def prepare(self, op: Op, i: int):
        if op.kind != "refresh":
            q = self._query()
            if op.kind == "filtered":
                return q, self.rng.choice(FILTERS)
            return q, None
        rows = []
        for key in self.rng.sample(self.replaceable, UPSERT_REPLACE):
            rows.append(dict(self.hot_rows[key]))
        template = self.hot_rows[self.replaceable[0]]
        for j in range(UPSERT_NEW):
            r = dict(template)
            name = f"up_{i:05d}_{j}.html"
            r.update(chunk_id=f"up{i:05d}{j}", source=f"refresh/faq/{name}",
                     filename=name, chunk_index=0, total_chunks=1)
            rows.append(r)
        for j, r in enumerate(rows):
            r.update(text=self._text(f"upd{i:05d}x{j}"), language="english")
            r["chunk_size_chars"] = len(r["text"])
        df = self.spark.createDataFrame(
            [tuple(r[f] for f in self.schema.fieldNames()) for r in rows],
            self.schema,
        )
        return rows, df

    # -- ops --------------------------------------------------------------------

    def run(self, op: Op, inputs) -> None:
        if op.kind == "refresh":
            rows, df = inputs
            t0 = time.time()
            self.store.upsert_documents(df)
            t1 = time.time()
            target = rows[self.rng.randrange(len(rows))]["text"]
            hits = search.search_with_scores(
                self.store, target, k=K, search_all_collections=True
            )
            op.extra.update(upsert_ms=(t1 - t0) * 1000,
                            fresh_read_ms=(time.time() - t1) * 1000,
                            target=target, hits=hits, rows=rows)
            return
        q, flt = inputs
        kwargs = {"index_kind": "ivf"} if op.kind == "ivf" else {}
        if flt is not None:
            kwargs["filter"] = flt[0]
        op.extra["hits"] = search.search_with_scores(
            self.store, q, k=K, search_all_collections=True, **kwargs
        )
        op.extra.update(query=q, filter=flt)

    def after(self, op: Op) -> None:
        """Check the op's answer (outside its timed interval)."""
        hits = op.extra["hits"]
        if op.kind == "refresh":
            for r in op.extra["rows"]:
                if r["chunk_id"] not in self.hot_rows:
                    self.new_keys += 1
                self.hot_rows[r["chunk_id"]] = r
                self.ref.put({**r, "collection": HOT},
                             self.embedder.embed_one(r["text"]))
            require(bool(hits) and hits[0].text == op.extra["target"]
                    and abs(hits[0].score - 1.0) <= SCORE_TOL,
                    f"{op.op_id}: fresh read did not return the upserted "
                    "text at rank 1 with score 1.0")
            q, pred = op.extra["target"], None
        else:
            q, flt = op.extra["query"], op.extra["filter"]
            pred = flt[1] if flt else None
        if pred is None:
            lang = detect_language_query(q)
            pred = lambda r, lang=lang: r["language"] == lang  # noqa: E731
        expected = self.ref.topk(self.embedder.embed_query(q), pred, K + 1)
        if op.kind == "ivf":
            exact = {e[0] for e in expected[:K]}
            got = {h.metadata["chunk_id"] for h in hits}
            op.extra["recall"] = len(exact & got) / max(1, len(exact))
            return
        require(same_hits(hits, expected),
                f"{op.op_id}: hits differ from the brute-force top-{K}")
        if op.kind == "filtered":
            require(all(op.extra["filter"][1](h.metadata) for h in hits),
                    f"{op.op_id}: a hit fails its filter")

    def check(self) -> None:
        n = self.store.read(HOT).count()
        require(n == self.hot_count0 + self.new_keys,
                f"{HOT} holds {n} rows, expected "
                f"{self.hot_count0} + {self.new_keys} new keys")
        self.inputs["upserted_new_keys"] = self.new_keys

    def summary(self, measured: list[Op]) -> dict:
        def p50(vals):
            return statistics.median(vals) if vals else 0.0

        by_kind = {
            k: [o.ms for o in measured if o.kind == k]
            for k in ("exact", "filtered", "ivf")
        }
        refresh = [o for o in measured if o.kind == "refresh"]
        recall = [o.extra["recall"] for o in measured if o.kind == "ivf"]
        out = {
            f"{k}_p50_ms": {"value": p50(v), "unit": "ms", "n": len(v)}
            for k, v in by_kind.items()
        }
        out["upsert_p50_ms"] = {
            "value": p50([o.extra["upsert_ms"] for o in refresh]),
            "unit": "ms", "n": len(refresh)}
        out["fresh_read_p50_ms"] = {
            "value": p50([o.extra["fresh_read_ms"] for o in refresh]),
            "unit": "ms", "n": len(refresh)}
        out["ivf_recall"] = {
            "value": statistics.fmean(recall) if recall else 0.0,
            "unit": "ratio", "n": len(recall), "k": K,
            "nlist": NLIST, "nprobe": NPROBE}
        return out


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
