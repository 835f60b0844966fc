"""``neardup_stream``: a closed loop of fixed-size document batches
through ``IncrementalNearDup.process_batch``, then one ``compact()``.

The caller pulls the next batch when the previous one returns, for the
run's seconds and at least ``MIN_BATCHES`` batches. Nothing is warmed
up first, so the first batch carries the detector's cold start: it
sets ``latency_p95_s``, while the median batch is a warm one. Documents are seeded: each is either an original (100
words drawn from a 5,000-word vocabulary, so originals share no 3-word
shingle) or, with ``DUP_SHARE``, an earlier original with its last word
replaced. A copy shares 97 of its 98 shingles with its original
(Jaccard 97/99, far above the detector's 0.7 threshold), so every
verdict is known in advance up to LSH misses: a copy is a duplicate of
its original, the smallest id of its family; an original is canonical.
"""

from __future__ import annotations

import random
import time

from perfbench import stats
from perfbench.harness import StateWalk

BATCH_DOCS = 500
DOC_WORDS = 100
VOCAB = 5000
DUP_SHARE = 0.2
#: the loop runs for the run's seconds but never fewer batches than
#: this: the first batch pays first-use code generation (several times
#: a warm batch), and the median needs warm batches around it
MIN_BATCHES = 5
#: the closed loop stops here even if the run's seconds are not up
MAX_BATCHES = 40
#: share of planted copies the detector may miss before the run fails
MAX_MISSED_SHARE = 0.01


class DocStream:
    """Seeded documents with their expected verdicts."""

    def __init__(self, seed: int, first_id: int = 1):
        self.rng = random.Random(seed)
        self.next_id = first_id
        self.originals: list[tuple[int, list[str]]] = []
        #: doc id -> id of the original it copies (None: canonical)
        self.expected: dict[int, int | None] = {}

    def batch(self, n: int) -> list[tuple[int, str]]:
        out = []
        for _ in range(n):
            doc_id, self.next_id = self.next_id, self.next_id + 1
            if self.originals and self.rng.random() < DUP_SHARE:
                base_id, words = self.rng.choice(self.originals)
                words = words[:-1] + [f"w{self.rng.randrange(VOCAB)}"]
                self.expected[doc_id] = base_id
            else:
                words = [f"w{self.rng.randrange(VOCAB)}" for _ in range(DOC_WORDS)]
                self.originals.append((doc_id, words))
                self.expected[doc_id] = None
            out.append((doc_id, " ".join(words)))
        return out


class NearDupStream:
    def __init__(self, h):
        self.h = h

    def setup(self) -> None:
        self.docs = DocStream(self.h.seed)

    def reference(self) -> None:
        """Expected verdicts come with the generated documents."""

    def _frame(self, rows):
        return self.h.spark.createDataFrame(rows, "doc_id long, text string")

    def measure(self) -> None:
        from streaming_examples_spark.streaming.incremental_dedup import IncrementalNearDup
        from streaming_examples_spark.streaming.state_backend import LocalPosixBackend

        h, tracer = self.h, self.h.tracer
        state_dir = f"{h.work}/nd_state"
        backend = None
        if h.trace:
            from perfbench.tracing import BackendProxy

            backend = BackendProxy(LocalPosixBackend(), tracer)
        self.det = IncrementalNearDup(h.spark, state_dir, backend=backend)
        walk = StateWalk(state_dir)
        self.batches: list[dict] = []
        self.reports: list[tuple[list, list]] = []  # (docs, report rows)
        t0 = time.time()
        while len(self.batches) < MIN_BATCHES or (
            time.time() - t0 < h.seconds and len(self.batches) < MAX_BATCHES
        ):
            b = len(self.batches)
            pulled = time.time()
            with tracer.span("sources.handoff"):
                t_h = time.perf_counter()
                docs = self.docs.batch(BATCH_DOCS)
                frame = self._frame(docs)
                handoff_s = time.perf_counter() - t_h
            with h.op("incremental_dedup.process_batch", batch=b) as rec:
                rows = self.det.process_batch(frame, b).collect()
            done = time.time()
            self.reports.append((docs, rows))
            with tracer.span("state.walk"):
                disk = walk.step()
            self.batches.append(
                {"wall_s": rec["wall_s"], "latency_s": done - pulled, "handoff_s": handoff_s, **disk}
            )
        with h.op("incremental_dedup.compact") as rec:
            self.det.compact()
        with tracer.span("state.walk"):
            self.compact_disk = walk.step()
        self.compact_s = rec["wall_s"]
        self.walk = walk

    def verify(self) -> None:
        """Every reported duplicate is a planted one and points into its
        own family at a smaller id; at most ``MAX_MISSED_SHARE`` of the
        planted copies go undetected (LSH banding can miss a pair whose
        changed shingle draws the minimum in every band); the store holds
        one canonical per document not reported as a duplicate."""
        h = self.h

        def family(doc_id):
            return self.docs.expected[doc_id] or doc_id

        n_docs = n_dups = planted = 0
        for b, (docs, rows) in enumerate(self.reports):
            got = {r["doc_id"]: r for r in rows}
            ok = set(got) == {d for d, _ in docs}
            for r in rows:
                if r["is_dup"]:
                    ok &= self.docs.expected[r["doc_id"]] is not None
                    ok &= r["dup_of"] is not None and r["dup_of"] < r["doc_id"]
                    ok &= family(r["dup_of"]) == family(r["doc_id"])
                else:
                    ok &= r["dup_of"] is None
            h.check(ok, f"batch {b}: a verdict contradicts the planted duplicates")
            n_docs += len(docs)
            n_dups += sum(1 for r in rows if r["is_dup"])
            planted += sum(1 for d, _ in docs if self.docs.expected[d] is not None)
        self.missed = planted - n_dups
        h.check(self.missed <= MAX_MISSED_SHARE * planted,
                f"{self.missed} of {planted} planted duplicates missed")
        canon = self.det.read_store("sigs").count()
        h.check(canon == n_docs - n_dups,
                f"store holds {canon} canonicals, expected {n_docs} docs - {n_dups} dups")
        self.n_dups, self.n_canon = n_dups, canon
        self.candidates = sum(r["n_candidates"] for _, rows in self.reports for r in rows)

    def end_to_end(self) -> dict:
        lat = [b["latency_s"] for b in self.batches for _ in range(BATCH_DOCS)]
        return {
            "latency_p50_s": stats.median(lat),
            "latency_p95_s": stats.tail_percentile(lat, 95),
            "batch_p50_s": stats.median([b["wall_s"] for b in self.batches]),
        }

    def per_layer(self) -> dict:
        h, bs = self.h, self.batches
        n = len(bs)
        ops = [r for r in h.ops if r["name"] == "incremental_dedup.process_batch"]
        stores = self.det.store_stats()["stores"]
        return {
            "incremental_dedup.batch_s_p50": stats.median([b["wall_s"] for b in bs]),
            "incremental_dedup.self_s_per_batch": sum(h.tracer.self_time(r["span"]) for r in ops) / n,
            "incremental_dedup.compact_s": self.compact_s,
            "incremental_dedup.candidates_per_dup": self.candidates / max(self.n_dups, 1),
            "incremental_dedup.dups": float(self.n_dups),
            "incremental_dedup.missed_dups": float(self.missed),
            "incremental_dedup.canonicals": float(self.n_canon),
            "incremental_dedup.store_files": float(sum(s["files"] for s in stores.values())),
            "incremental_dedup.store_bytes": float(sum(s["bytes"] for s in stores.values())),
            "incremental_dedup.compact_bytes_rewritten": float(self.compact_disk["bytes_written"]),
            "sources.handoff_s_per_batch": sum(b["handoff_s"] for b in bs) / n,
            "state.size_bytes": float(self.walk.size_bytes),
            "state.bytes_written_per_batch": sum(b["bytes_written"] for b in bs) / n,
            "state.buckets_rewritten_per_batch": sum(b["buckets_rewritten"] for b in bs) / n,
            **h.backend_layer(n, {"incremental_dedup.process_batch"}),
        }
