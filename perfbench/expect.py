"""Output checks, run after the timed pass.

Expected results come from the catalog's DuckDB oracles
(SparkEntry.oracleSql) over the same input files, compared the way
tools/local_check.py compares them: columns sorted by name, rows sorted,
values compared as strings. Oracle results for whole-input ops are computed
once per seed and cached beside the inputs.
"""
import hashlib
import json
import os

import duckdb
import pandas as pd

# op kind -> catalog key whose oracle the op's output must match
ORACLE_OF = {"ivfpq_query_remove": "ann_ivfpq_remove_full"}
# index writes have no output of their own: the index read that follows
# them in the round checks what they wrote
WRITE_ONLY = {"ivfpq_build", "ivfpq_remove"}
# llm job kind -> (catalog oracle, projection of the job's cached result)
LLM = {
    "infer_structured": ("infer_structured",
                         "doc_id, CAST(json_extract(inference_result, '$.score') AS BIGINT) AS score"),
    "classify": ("classify_keyword", "doc_id, classification_result"),
    "score": ("score_judge", "doc_id, CAST(score AS BIGINT) AS score"),
    "embed": ("embed_hash",
              "doc_id, CAST(len(embedding) AS BIGINT) AS dim, "
              "round(CAST(embedding[1] AS DOUBLE), 6) AS e0, "
              "round(list_reduce(list_prepend(0.0, list_transform(embedding, x -> CAST(x AS DOUBLE))), "
              "(a, b) -> a + b), 5) AS e_sum"),
    "rank_elo": ("rank_options", "doc_id, array_to_string(ranking, ',') AS ranking_str, winner"),
}
# the same projection of the job's final frame (read back, unpacked and
# joined onto the original columns), where it differs: unpacking turns
# infer_structured's JSON into a `score` column
FRAME_PROJ = {"infer_structured": "doc_id, CAST(score AS BIGINT) AS score"}
ORIGINAL = "doc_id, lang, source, n_chars"


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df.astype(str)


def digest(df):
    c = canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).values.tobytes())
    return f"{len(c)}:{h.hexdigest()}"


class Checker:
    def __init__(self, data_dir, manifest, oracles):
        self.con = duckdb.connect()
        self.oracles = oracles
        for t in manifest["tables"]:
            self.con.execute(f"CREATE VIEW {t}_all AS SELECT * FROM "
                             f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_all")
        self.cache_path = os.path.join(data_dir, "expected.json")
        try:
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        self.dirty = False

    def close(self):
        if self.dirty:
            with open(self.cache_path, "w") as f:
                json.dump(self.cache, f)
        self.con.close()

    def expected(self, key):
        if key not in self.cache:
            self.cache[key] = digest(self.con.execute(self.oracles[key]).fetchdf())
            self.dirty = True
        return self.cache[key]

    def check(self, op, rec):
        """(ok, reason) for one timed op."""
        kind = op["kind"]
        if kind in WRITE_ONLY:
            return True, ""
        if kind in LLM:
            return self.check_job(op, rec)
        key = ORACLE_OF.get(kind, kind)
        got = digest(pd.read_parquet(rec.get("out") or rec["frame"]))
        want = self.expected(key)
        return (got == want), f"output {got} != oracle {key} {want}"

    def check_job(self, op, rec):
        """Checks the job's cached result and its final frame against the
        oracle, and the final frame's rows and original columns against the
        input range."""
        lo, size, _ = op["args"]
        oracle, proj = LLM[op["kind"]]
        cache = f"read_parquet('{rec['out']}/*.parquet')"
        frame = f"read_parquet('{rec['frame']}/*.parquet')"
        self.con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM documents_all "
                         f"WHERE doc_id >= {lo} AND doc_id < {lo + size}")
        try:
            want = digest(self.con.execute(self.oracles[oracle]).fetchdf())
            original = digest(self.con.execute(f"SELECT {ORIGINAL} FROM documents").fetchdf())
            got = self.con.execute(f"SELECT {proj} FROM {cache}").fetchdf()
            rows = self.con.execute(f"SELECT count(*), count(DISTINCT doc_id), min(doc_id), "
                                    f"max(doc_id) FROM {frame}").fetchone()
            got_original = digest(self.con.execute(f"SELECT {ORIGINAL} FROM {frame}").fetchdf())
            got_unpacked = digest(self.con.execute(
                f"SELECT {FRAME_PROJ.get(op['kind'], proj)} FROM {frame}").fetchdf())
        finally:
            self.con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM documents_all")
        if len(got) != size:
            return False, f"{len(got)} cached result rows for {size} input rows"
        if digest(got) != want:
            return False, f"cached job result differs from oracle {oracle}"
        if tuple(rows) != (size, size, lo, lo + size - 1):
            return False, (f"final frame has {rows[0]} rows, {rows[1]} distinct doc_ids in "
                           f"[{rows[2]}, {rows[3]}] for input doc_ids [{lo}, {lo + size})")
        if got_original != original:
            return False, "final frame's original columns differ from the input"
        if got_unpacked != want:
            return False, f"final frame's unpacked result differs from oracle {oracle}"
        if op["kind"] == "rank_elo":
            elo = pd.read_parquet(rec["elo"])
            if sorted(elo["label"]) != ["opt_src", "opt_text"] or elo["elo"].isna().any():
                return False, f"elo ratings {elo.to_dict('records')}"
        return True, ""
