"""The benchmark's workloads: input sizes, seeded op schedules and the input
rows each op consumes.

A schedule is a sequence of rounds. Every round holds the same multiset of
ops in a seeded order, so a run that measures whole rounds has the same op
mix whatever the seed.
"""
import numpy as np

import gen


def _docs(m):
    return m["tables"]["documents"]["rows"]


class LlmJobs:
    """One SDK job per op over a shared documents corpus."""
    spec = {"documents": 20000}
    warm_spec = {"documents": 200}
    kinds = ["infer_structured", "classify", "score", "embed", "rank_elo"]
    max_rounds = 10
    # job sizes: Pareto(alpha=1) quantiles from this many rows, one stratum
    # per job, plus one `infer_structured` job over the whole corpus, so the
    # rows a round consumes do not hinge on which kind drew the largest size
    min_rows = 200

    def schedule(self, seed, manifest, rounds):
        n = _docs(manifest)
        rng = np.random.default_rng(gen.sub_seed(seed, "llm_jobs"))
        per_round = 2 * len(self.kinds)
        ops = []
        for r in range(rounds):
            strata = per_round - 1
            u = (np.arange(strata) + rng.random(strata)) / strata * 0.96
            sizes = [min(n, int(self.min_rows / (1.0 - x))) for x in u]
            kinds = self.kinds + self.kinds[1:]
            jobs = [(kinds[k], sizes[i]) for k, i in
                    zip(rng.permutation(strata), rng.permutation(strata))] + [(self.kinds[0], n)]
            progress = rng.permutation([1] * (per_round // 2) + [0] * (per_round - per_round // 2))
            for (kind, size), prog in zip([jobs[i] for i in rng.permutation(per_round)], progress):
                lo = int(rng.integers(0, n - size + 1))
                ops.append({"id": len(ops), "round": r, "kind": kind,
                            "args": [lo, size, int(prog)], "rows": size})
        return ops

    def warm_schedule(self, manifest):
        return [{"id": i, "round": 0, "kind": k, "args": [0, 50, 0], "rows": 50}
                for i, k in enumerate(self.kinds)]


class CurateCorpus:
    """One curation step per op, batch and streaming; the IVF-PQ index churn
    (build, remove, read) keeps its order within a round and writes fresh
    tables each round."""
    spec = {"documents": 5000, "embeddings": 2000}
    warm_spec = {"documents": 150, "embeddings": 200}
    max_rounds = 10
    # curation steps and the tables they read; the stream_* steps are the
    # catalog's streaming intake filter and streaming exact dedup
    steps = {
        "dedup_exact": ["documents"],
        "text_pii_scrub": ["documents"],
        "dedup_minhash_lsh": ["documents"],
        "dedup_clusters": ["documents"],
        "stream_clean": ["documents"],
        "stream_dedup_exact": ["documents"],
    }
    # (kind, input rows it consumes as a function of the manifest)
    churn = [
        ("ivfpq_build", lambda m: m["tables"]["embeddings"]["rows"]),
        ("ivfpq_remove", lambda m: (m["tables"]["embeddings"]["rows"] + 4) // 5),
        ("ivfpq_query_remove", lambda m: 0),
    ]

    def _round(self, rng, m):
        steps = list(self.steps)
        steps = [steps[i] for i in rng.permutation(len(steps))]
        # interleave: the churn chain keeps its order, the steps fill seeded slots
        slots = sorted(rng.choice(len(self.churn) + len(steps), len(steps), replace=False))
        out, si, ci = [], 0, 0
        for i in range(len(self.churn) + len(steps)):
            if si < len(slots) and slots[si] == i:
                k = steps[si]
                out.append((k, sum(m["tables"][t]["rows"] for t in self.steps[k])))
                si += 1
            else:
                k, rows = self.churn[ci]
                out.append((k, rows(m)))
                ci += 1
        return out

    def schedule(self, seed, manifest, rounds):
        rng = np.random.default_rng(gen.sub_seed(seed, "curate_corpus"))
        ops = []
        for r in range(rounds):
            for k, rows in self._round(rng, manifest):
                ops.append({"id": len(ops), "round": r, "kind": k, "args": [], "rows": rows})
        return ops

    def warm_schedule(self, manifest):
        # the first warm-up op is part of set-up: the cheapest
        first = next(iter(self.steps))
        return [{"id": 0, "round": 0, "kind": first, "args": [], "rows": 0}] + [
            {"id": i + 1, "round": 0, "kind": k, "args": [], "rows": 0}
            for i, (k, _) in enumerate(self.churn)] + [
            {"id": len(self.churn) + i, "round": 0, "kind": k, "args": [], "rows": 0}
            for i, k in enumerate(self.steps) if k != first]


WORKLOADS = {"llm_jobs": LlmJobs(), "curate_corpus": CurateCorpus()}
