"""The ``ingest_churn`` workload: the serving path under index churn.

Set-up builds the paper's serving state the way its two pipelines do:
the documents of 10 of the 20 titles of the sf0.1 ``documents`` table
(``source`` as the form title, 250 documents each) go through Pipeline 1
(``DocumentPipeline.chunk`` then ``.embed``) and Pipeline 2
(``upsert_from_chunks``) into a ``VectorIndex``, then a synced IVFPQ
index and a synced BM25 index are built over it and a user registers
and logs in. Apart from the number of titles this is the shape of the
serving soak, ``tools/soak_serving.py``.

The run is a closed loop (one client thread that waits for each reply)
of cycles: one untimed warm-up cycle with ``WARMUP_ASKS`` asks and no
maintenance, then a fixed number of timed ones with ``ASKS_PER_CYCLE``.
Each cycle:

1. ingests a seeded revision of one title's documents through Pipeline 1 and
   ``upsert_from_chunks(id_mode="stable")``, then ``refresh()``-es both
   synced indexes: the fresh window, after which new text is servable;
2. runs ``QAChatApp.ask_question`` with unique questions filtered on 1
   or 2 titles; the first asks for a chunk the ingest just wrote;
3. runs ``compact()`` and ``vacuum()`` on all three indexes (timed
   cycles only).

Every reply is checked against an exact NumPy cosine top-k over the
same snapshot and title filter.
"""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import numpy as np

from .common import Workdir, jvm_live_mb, spark_session
from .tracer import Tracer, job_tag

#: the serving corpus: the sf0.1 ``documents`` table (5,000 documents,
#: 250 in each of 20 ``source`` values), one document per chunk
DOCUMENTS = Path(__file__).resolve().parent / "data" / "sf0.1" / "documents.parquet"
#: titles served: the first 10 sources, 2,500 documents. Each title
#: keeps all 250 of its documents, so a one- or two-title filter still
#: leaves more candidates than the ANN re-rank shortlist (100); half
#: the titles halves the set-up, which the run-time budget needs
N_TITLES = 10
#: above the table's longest document (100 tokens), so a document is
#: one chunk and a revised document is one new record
TOKEN_LIMIT = 120
EMBED_DIM = 64
TOP_K = 2
#: IVFPQ and BM25 shape of the serving soak (tools/soak_serving.py)
NLIST, PQ_M, NPROBE, TEXT_BUCKETS = 16, 8, 8, 32

#: asks after each ingest (the first one for the just-written chunk)
ASKS_PER_CYCLE = 10
#: asks in the untimed warm-up cycle
WARMUP_ASKS = 2
#: every this many asks the client also reads its chat history
CHAT_READ_EVERY = 5
#: share of a title's documents each ingest rewrites
REVISE_SHARE = 0.25
#: one cycle's nominal wall on the 4-CPU host; ``--seconds`` is turned
#: into a fixed cycle count with it, so runs of one length do equal work
NOMINAL_CYCLE_S = 25.0
#: lowest mean recall@k a run may return before it counts as wrong.
#: 23 runs of the seed code gave 0.875-1.0 (mean 0.95, sd 0.04), so a
#: run of it would need 8 of its 24 matches wrong to trip the floor,
#: while a fall to 0.7 trips it
MIN_RECALL = 0.7
SCORE_TOL = 1e-5


class Corpus:
    """The documents table as forms: a title (``source``) is a form and
    its documents, in ``doc_id`` order, are its texts. A revision
    rewrites some of a title's documents with seeded text of the same
    length drawn from the table's vocabulary."""

    def __init__(self, seed: int):
        import pyarrow.parquet as pq

        self.rng = random.Random(seed)
        tbl = pq.read_table(DOCUMENTS, columns=["doc_id", "source", "text"]).to_pandas()
        tbl = tbl.sort_values("doc_id")
        self.titles = list(dict.fromkeys(tbl["source"]))[:N_TITLES]
        tbl = tbl[tbl["source"].isin(self.titles)]
        self.docs = {t: list(g["text"]) for t, g in tbl.groupby("source")}
        self.vocab = sorted({w for text in tbl["text"] for w in text.split()})

    def revise(self, title: str) -> str:
        """Rewrite a share of a title's documents; returns the first
        new text, which the freshness ask looks for."""
        docs = self.docs[title]
        slots = sorted(self.rng.sample(range(len(docs)), round(len(docs) * REVISE_SHARE)))
        for i in slots:
            docs[i] = " ".join(self.rng.choices(self.vocab, k=len(docs[i].split())))
        return docs[slots[0]]

    def user_bytes(self, title: str) -> int:
        return sum(len(text.encode()) for text in self.docs[title])


@dataclass
class Snapshot:
    """The exact-search oracle: every live chunk, per title."""

    rows: dict = field(default_factory=dict)  # title -> (ids, texts, unit vecs)

    def load(self, pdf) -> None:
        for title, grp in pdf.groupby("title"):
            vecs = np.array(grp["vector"].tolist(), dtype=np.float64)
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            self.rows[title] = (list(grp["id"]), list(grp["text"]), vecs)

    def check_ask(self, qvec: np.ndarray, titles: list[str], reply: dict) -> tuple[str | None, float]:
        """(error or None, tie-aware recall@k) for one ask reply."""
        ids, texts, vecs = [], [], []
        for t in titles:
            i, x, v = self.rows[t]
            ids += i
            texts += x
            vecs.append(v)
        scores = np.vstack(vecs) @ qvec
        k = min(TOP_K, len(ids))
        matches = reply["matches"]
        if len(matches) != k:
            return f"{len(matches)} matches, expected {k}", 0.0
        pos = {i: n for n, i in enumerate(ids)}
        got = []
        for mid, mtitle, mscore in matches:
            if mtitle not in titles or mid not in pos:
                return f"match {mid!r} outside the filter {titles}", 0.0
            exact = scores[pos[mid]]
            if abs(exact - mscore) > SCORE_TOL:
                return f"match {mid!r} scored {mscore}, exact cosine {exact:.6f}", 0.0
            got.append(exact)
        unordered = any(a < b - SCORE_TOL for a, b in zip(got, got[1:]))
        if len(set(m[0] for m in matches)) != k or unordered:
            return "matches repeat or are not in score order", 0.0
        kth = np.sort(scores)[-k]
        recall = sum(1 for s in got if s >= kth - SCORE_TOL) / k
        # the extractive answer_fn returns the context's first line
        firsts = {texts[pos[mid]].split("\n", 1)[0].strip() or "I don't know." for mid, _t, _s in matches}
        if reply["system_answer"] not in firsts:
            return "answer is not the first line of a matched text", recall
        return None, recall


class IngestChurn:
    def __init__(self, seed: int, seconds: int, trace: bool, t_start: float):
        self.seed, self.trace, self.t_start = seed, trace, t_start
        self.cycles = max(1, round(seconds / NOMINAL_CYCLE_S))
        self.rng = random.Random(seed * 7919 + 1)
        self.corpus = Corpus(seed)
        self.tracer = Tracer(trace)
        self.snapshot = Snapshot()
        self.asked: set[str] = set()
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, list[float]] = {}
        self.ask_ms: list[float] = []
        #: whether each timed ask was traced (traced runs alternate)
        self.ask_traced: list[bool] = []
        self.fresh_ms: list[float] = []
        self.timed_ms = 0.0
        self.recalls: list[float] = []
        self.n_asks = 0

    # -- set-up --------------------------------------------------------------

    def setup(self, work: Workdir) -> None:
        from assignment3_qachatapplication_vectorembeddings_spark.functions.embedding import HashingEmbedder
        from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
            SyncedIvfpqIndex,
            SyncedTextIndex,
        )
        from assignment3_qachatapplication_vectorembeddings_spark.plans import pipeline2
        from assignment3_qachatapplication_vectorembeddings_spark.plans.app import QAChatApp
        from assignment3_qachatapplication_vectorembeddings_spark.plans.pipeline1 import (
            DocumentPipeline,
            Pipeline1Config,
        )
        from assignment3_qachatapplication_vectorembeddings_spark.plans.qa import QAPipeline

        self.work = work
        t0 = time.perf_counter()
        self.spark = spark_session(work, "perfbench-ingest-churn", trace=self.trace)
        self.note("session.start_s", time.perf_counter() - t0)
        self.embedder = HashingEmbedder(dim=EMBED_DIM)
        self.p1 = DocumentPipeline(
            self.spark, Pipeline1Config(token_limit=TOKEN_LIMIT, embed_dim=EMBED_DIM),
            embedder=self.embedder,
        )
        self.pipeline2 = pipeline2
        self.app = QAChatApp(self.spark, str(work / "app"), embedder=self.embedder)

        t0 = time.perf_counter()
        with job_tag(self.spark, "setup" if self.trace else None):
            self._upsert(self.corpus.titles)
        self.note("setup.bulk_ingest_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.ann = SyncedIvfpqIndex(self.app.index, str(work / "ann"), nlist=NLIST, m=PQ_M, nbits=8)
        self.ann.build()
        self.note("index_sync.ivfpq_build_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.tix = SyncedTextIndex(self.app.index, str(work / "tix"), buckets=TEXT_BUCKETS)
        self.tix.build()
        self.note("index_sync.text_build_s", time.perf_counter() - t0)
        self.app.qa = QAPipeline(
            self.app.index, embedder=self.embedder, ann_index=self.ann,
            ann_policy="serve", ann_nprobe=NPROBE, text_index=self.tix, top_k=TOP_K,
        )
        email, password = f"bench{self.seed}@example.com", "hunter2!bench"
        self.app.register(email, password)
        self.token = self.app.login(email, password)
        self.setup_s = time.perf_counter() - self.t_start
        if self.trace:
            self._instrument()
        self._load_snapshot(None)

    def _instrument(self) -> None:
        from assignment3_qachatapplication_vectorembeddings_spark.plans import qa as qa_module

        tr, app = self.tracer, self.app
        tr.wrap(app.auth, "current_user", "auth.current_user")
        tr.wrap(app.auth, "add_chat", "auth.add_chat")
        tr.wrap(app.qa, "ask", "qa.ask")
        tr.wrap(app.qa, "search", "qa.search")
        tr.wrap(app.qa, "answer_fn", "qa.answer_fn")
        # search() only plans: the ANN scan and the exact re-rank run at
        # the first action on its (cached) result, which is the head()
        # inside assemble_context. Its jobs get their own tag, so
        # per_layer can move their time from assemble_context to search.
        assemble_context, spark = qa_module.assemble_context, self.spark

        def tagged_assemble_context(*args, **kwargs):
            request = tr.request_id if tr.enabled else ""
            with job_tag(spark, f"exec-{request}" if request else None):
                return assemble_context(*args, **kwargs)

        qa_module.assemble_context = tagged_assemble_context
        tr.wrap(qa_module, "assemble_context", "qa.assemble_context")
        tr.wrap_lease(self.ann, "reader_lease", "index_sync.reader_lease")
        tr.wrap_lease(self.tix, "reader_lease", "index_sync.reader_lease")
        tr.wrap_lease(app.index, "reader_lease", "index_maintenance.reader_lease")

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def _upsert(self, titles: list[str]) -> None:
        texts = self.spark.createDataFrame(
            [(t, text) for t in titles for text in self.corpus.docs[t]],
            "FormName string, text string",
        )
        chunks = self.p1.embed(self.p1.chunk(texts))
        with self.tracer.span("pipeline2.upsert_from_chunks"):
            self.pipeline2.upsert_from_chunks(self.app.index, chunks, id_mode="stable")

    def _load_snapshot(self, titles: list[str] | None) -> None:
        pdf = self.app.index.read(titles).select("id", "title", "text", "vector").toPandas()
        self.snapshot.load(pdf)
        for title in titles or self.corpus.titles:
            n, want = len(self.snapshot.rows[title][0]), len(self.corpus.docs[title])
            if n != want:
                self.failures.append(f"{title}: {n} records in the index, {want} documents")

    # -- ops -------------------------------------------------------------------

    def _op(self, kind: str, fn, *, timed: bool) -> float | None:
        """Run one op; a raised error or a failed check is a failed op.
        Returns its wall in ms, or None when it failed."""
        self.attempted += 1
        # Spark counters are per timed op, so only timed ops get a tag
        tag = f"{kind}-{self.attempted}" if self.trace and timed else None
        t0 = time.perf_counter()
        try:
            with job_tag(self.spark, tag), self.tracer.request(tag or "", kind):
                result = fn()
            ms = (time.perf_counter() - t0) * 1000.0
            error = self._verify(kind, result)
        except Exception as exc:  # a failed op is counted, the loop goes on
            ms, error = (time.perf_counter() - t0) * 1000.0, f"{type(exc).__name__}: {exc}"
        if timed:
            self.timed_ms += ms
        if error is not None:
            self.failures.append(f"{kind} #{self.attempted}: {error}")
            return None
        return ms

    def _verify(self, kind: str, result) -> str | None:
        if kind == "ask":
            reply, qvec, titles, want = result
            error, recall = self.snapshot.check_ask(qvec, titles, reply)
            self.recalls.append(recall)
            if error is None and want is not None and reply["matches"][0][0] != want:
                error = f"fresh chunk {want!r} not returned first ({reply['matches']})"
            return error
        if kind == "chats":
            if len(result) != self.n_asks:
                return f"chat history has {len(result)} rows after {self.n_asks} asks"
        return None

    def ask(self, titles: list[str], question: str, want: str | None, *, timed: bool) -> None:
        def run():
            reply = self.app.ask_question(self.token, question, titles)
            self.n_asks += 1
            qvec = np.asarray(self.embedder.embed_one(question), dtype=np.float64)
            return reply, qvec / np.linalg.norm(qvec), titles, want

        if timed and self.trace:
            # timed asks alternate in pairs between traced and untraced
            # (pairs, so both halves get the same 1- and 2-title mix):
            # the p50 difference between the halves is the spans' cost
            self.tracer.enabled = len(self.ask_traced) // 2 % 2 == 0
        ms = self._op("ask", run, timed=timed)
        if ms is not None and timed:
            self.ask_ms.append(ms)
            self.ask_traced.append(self.tracer.enabled)
        self.tracer.enabled = self.trace and timed
        if self.n_asks % CHAT_READ_EVERY == 0:
            self._op("chats", lambda: self.app.chat_answers(self.token), timed=timed)

    def _question(self, titles: list[str]) -> str:
        """A unique question: ten words of one live chunk plus two others."""
        while True:
            _ids, texts, _v = self.snapshot.rows[self.rng.choice(titles)]
            words = self.rng.choice(texts).split()
            q = " ".join(self.rng.sample(words, min(10, len(words))) + self.rng.sample(self.corpus.vocab, 2))
            if q not in self.asked:
                self.asked.add(q)
                return q

    def _titles(self) -> list[str]:
        """One title for every other ask, two for the rest, so every run
        asks the same mix whatever its seed."""
        return self.rng.sample(self.corpus.titles, 1 + self.n_asks % 2)

    def ingest(self, title: str, *, timed: bool) -> str:
        """Revise one title, ingest it and refresh both synced indexes;
        returns the first new text."""
        new_text = self.corpus.revise(title)
        before = _tree_usage(self.work, ("app/index", "ann", "tix"))

        def run():
            self._upsert([title])
            with self.tracer.span("index_sync.ivfpq_refresh"):
                self.ann.refresh()
            with self.tracer.span("index_sync.text_refresh"):
                self.tix.refresh()

        ms = self._op("ingest", run, timed=timed)
        if ms is not None and timed:
            self.fresh_ms.append(ms)
            files, nbytes = _tree_usage(self.work, ("app/index", "ann", "tix"))
            user_bytes = self.corpus.user_bytes(title)
            self.note("index_maintenance.files_per_ingest", files - before[0])
            self.note("index_maintenance.bytes_written_per_user_byte", (nbytes - before[1]) / user_bytes)
        self._load_snapshot([title])
        return new_text

    def maintain(self, *, timed: bool) -> None:
        def run():
            # the primary first: its compaction moves every folded title
            # to a new generation, which the synced indexes then refresh
            # before they compact (a stale one refuses to)
            with self.tracer.span("index_maintenance.compact"):
                self.app.index.compact()
            with self.tracer.span("index_maintenance.vacuum"):
                self.app.index.vacuum(keep_versions=2, min_age_sec=0)
            for idx, kind in ((self.ann, "ivfpq"), (self.tix, "text")):
                with self.tracer.span(f"index_sync.{kind}_refresh"):
                    idx.refresh()
                with self.tracer.span("index_sync.compact"):
                    idx.compact()
                with self.tracer.span("index_sync.vacuum"):
                    idx.vacuum(keep_versions=2, min_age_sec=0)

        self._op("maintenance", run, timed=timed)

    def cycle(self, *, timed: bool) -> None:
        title = self.rng.choice(self.corpus.titles)
        new_text = self.ingest(title, timed=timed)
        ids, texts, _v = self.snapshot.rows[title]
        fresh = [(i, x) for i, x in zip(ids, texts) if x.strip() == new_text]
        if not fresh:
            self.failures.append(f"ingest of {title}: new text missing from the index")
        else:
            self.asked.add(fresh[0][1])
            self.ask([title], fresh[0][1], fresh[0][0], timed=timed)
        for _ in range((ASKS_PER_CYCLE if timed else WARMUP_ASKS) - 1):
            titles = self._titles()
            self.ask(titles, self._question(titles), None, timed=timed)
        # maintenance is the costliest op; the run-time budget leaves
        # room for it once per run, so the warm-up skips it
        if timed:
            self.maintain(timed=True)
        self._sample_layout()

    def _sample_layout(self) -> None:
        _version, parts = self.app.index.snapshot_info()
        self.note("index_maintenance.live_generations", len(set(parts.values())))
        self.note("index_sync.live_segments", self.ann.stats()["segments"] + self.tix.stats()["segments"])

    # -- the run -----------------------------------------------------------------

    def run(self) -> None:
        t0 = time.perf_counter()
        self.tracer.enabled = False
        self.cycle(timed=False)
        self.note("setup.warmup_s", time.perf_counter() - t0)
        self.tracer.enabled = self.trace
        for _ in range(self.cycles):
            self.cycle(timed=True)
        if self.trace:
            self.note("jvm.live_mb", jvm_live_mb(self.spark))
        self.note("auth.chat_files", _tree_usage(self.work, ("app/auth/chathistory",))[0])
        recall = sum(self.recalls) / len(self.recalls)
        print(f"mean recall@{TOP_K} over {len(self.recalls)} asks: {recall}", file=sys.stderr)
        if recall < MIN_RECALL:
            self.failures.append(f"mean recall@{TOP_K} {recall:.3f} < {MIN_RECALL}")

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "op_ms": (median(self.ask_ms), "ms"),
            "wall_s": (self.timed_ms / 1000.0, "s"),
        }

    def per_layer(self, counters: dict) -> dict:
        tr = self.tracer
        out = {k: median(v) for k, v in self.layer.items()}
        for name in ("auth.current_user", "auth.add_chat", "qa.ask", "qa.answer_fn",
                     "index_sync.reader_lease", "index_maintenance.reader_lease"):
            out[f"{name}_ms"] = median(tr.per_request(name, "ask").values())
        # the search's execution: from the first job submitted inside
        # assemble_context to the last one's completion
        exec_ms = {
            tag.removeprefix("exec-"): c["job_span_ms"]
            for tag, c in counters.items() if tag.startswith("exec-")
        }
        search = tr.per_request("qa.search", "ask")
        context = tr.per_request("qa.assemble_context", "ask")
        out["qa.search_ms"] = median(ms + exec_ms.get(req, 0.0) for req, ms in search.items())
        out["qa.assemble_context_ms"] = median(
            ms - exec_ms.get(req, 0.0) for req, ms in context.items()
        )
        out["qa.self_ms"] = median(tr.self_ms("qa.ask"))
        traced = [ms for ms, on in zip(self.ask_ms, self.ask_traced) if on]
        untraced = [ms for ms, on in zip(self.ask_ms, self.ask_traced) if not on]
        out["trace.overhead_ms"] = median(traced) - median(untraced)
        for name in ("pipeline2.upsert_from_chunks", "index_sync.ivfpq_refresh", "index_sync.text_refresh"):
            out[f"{name}_ms"] = median(tr.per_request(name, "ingest").values())
        for name in ("index_sync.compact", "index_sync.vacuum", "index_maintenance.compact", "index_maintenance.vacuum"):
            out[f"{name}_ms"] = median(tr.per_request(name, "maintenance").values())
        out["ingest.fresh_p50_ms"] = median(self.fresh_ms)
        out["qa.recall_at_k"] = sum(self.recalls) / len(self.recalls)
        for kind in ("ask", "ingest"):
            rows = [c for tag, c in counters.items() if tag.startswith(kind + "-")]
            for key in ("jobs", "stages", "tasks"):
                out[f"spark.{key}_per_{kind}"] = sum(c[key] for c in rows) / max(1, len(rows))
        return out


def _tree_usage(work: Workdir, subdirs: tuple[str, ...]) -> tuple[int, int]:
    """(files, bytes) under the given work-dir subtrees."""
    files = nbytes = 0
    for sub in subdirs:
        for root, _dirs, names in os.walk(work / sub):
            for name in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(root, name))
    return files, nbytes
