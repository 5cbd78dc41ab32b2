"""Independent last-writer-wins replay of the generated log, in pandas.

Same shape as the repository's test oracle: the max-lsn event per doc wins,
op D removes the doc, a delete of an absent key is a no-op. Nothing here
touches Spark or the engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

PAYLOAD = ("doc_id", "tokens", "n_tok", "source")


class Oracle:
    """Resolves winners on the narrow columns, then gathers only the
    winners' token arrays from Arrow."""

    def __init__(self, base_path: str, log_path: str, upto_epoch: int):
        self.base = pq.read_table(base_path).to_pandas()
        self.arrow = pq.read_table(log_path, filters=[("epoch", "<=", upto_epoch)])
        self.log = self.arrow.drop_columns(["tokens"]).to_pandas()
        self.log["epoch"] = self.log["epoch"].astype(int)
        self.log["row"] = np.arange(len(self.log))

    def state(self) -> pd.DataFrame:
        ev = self.log.sort_values("lsn", kind="stable")
        last = ev.drop_duplicates(subset=["doc_id"], keep="last")
        survivors = self.base[~self.base["doc_id"].isin(set(last["doc_id"]))]
        ups = last[last["op"] != "D"].copy()
        toks = self.arrow.column("tokens").take(ups["row"].to_numpy())
        ups["tokens"] = toks.to_pandas().to_numpy()
        out = pd.concat([survivors[list(PAYLOAD)], ups[list(PAYLOAD)]], ignore_index=True)
        return out.sort_values("doc_id", kind="stable").reset_index(drop=True)

    def row(self, key: str, upto_epoch: int) -> tuple | None:
        """The doc's state after ``upto_epoch``: (n_tok, source, tokens) or None."""
        ev = self.log[(self.log["doc_id"] == key) & (self.log["epoch"] <= upto_epoch)]
        if len(ev):
            last = ev.loc[ev["lsn"].idxmax()]
            if last["op"] == "D":
                return None
            toks = self.arrow.column("tokens")[int(last["row"])].as_py()
            return (int(last["n_tok"]), str(last["source"]), tuple(toks))
        b = self.base[self.base["doc_id"] == key]
        return norm_row(b.iloc[0]) if len(b) else None


def hot_keys(log_path: str, n: int) -> list[str]:
    """The ``n`` most frequent keys of the log."""
    ids = pq.read_table(log_path, columns=["doc_id"]).column("doc_id").to_pandas()
    return list(ids.value_counts().index[:n])


def norm_row(r) -> tuple:
    """A Spark Row or pandas row in the oracle's tuple form."""
    return (int(r["n_tok"]), str(r["source"]), tuple(int(t) for t in r["tokens"]))


def state_mismatches(actual: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Number of docs whose resolved row differs (missing, extra or changed)."""
    a = actual.sort_values("doc_id", kind="stable").reset_index(drop=True)
    e = expected
    if list(a["doc_id"]) != list(e["doc_id"]):
        return len(set(a["doc_id"]) ^ set(e["doc_id"])) or 1
    bad = (a["n_tok"].to_numpy(dtype=np.int64) != e["n_tok"].to_numpy(dtype=np.int64)) | (
        a["source"].to_numpy() != e["source"].to_numpy()
    )
    for i, (x, y) in enumerate(zip(a["tokens"], e["tokens"])):
        if not bad[i] and not np.array_equal(np.asarray(x), np.asarray(y)):
            bad[i] = True
    return int(bad.sum())


def rollup_mismatches(rollup: pd.DataFrame, state: pd.DataFrame) -> int:
    """Groups whose (count, sum n_tok) differ from a groupBy of ``state``."""
    exp = state.groupby("source").agg(n=("doc_id", "size"), tok=("n_tok", "sum"))
    got = rollup.set_index("source")[["n", "tok"]]
    if set(exp.index) != set(got.index):
        return len(set(exp.index) ^ set(got.index))
    got = got.loc[exp.index]
    return int(
        ((got["n"].astype(np.int64) != exp["n"]) | (got["tok"].astype(np.int64) != exp["tok"])).sum()
    )
