"""Seeded input generators for the pipeline benchmark.

Each workload's input is written in the reference's native format:
``|``-delimited text with a one-line header sidecar named
``<name>.pig_header`` (not a hidden ``.pig_header``: Spark's file listing
skips dot-files, so ``read_header`` on a hidden sidecar finds no line).

Numbers are written with four decimals, and the numpy references used by
the output checks are parsed back from the written strings, so both sides
see the same doubles.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

MISSING_TOKENS = ("", "?")
POS_TAGS = ["1"]
NEG_TAGS = ["0"]
TARGET = "tag"

# sizes per workload; rows_per_s is reported at these shapes. Every run
# pays a fresh session, a cold and a warm pass, about a minute on a 4-core
# box at these sizes, and 48 runs must fit the evaluation budget. So
# stats_wide stays at 1000 rows, where per-job cost outweighs per-row
# cost; METRICS.md gives its measured layer shares at 1000 and 2500 rows
SHAPES = {
    "stats_wide": {"rows": 1000, "numeric": 16, "cats": [300, 24, 8, 4], "missing": 0.02, "malformed": 7},
    "train_eval": {"rows": 56000, "eval_rows": 8000, "numeric": 22, "cats": [12, 6], "missing": 0.005},
    "score_batch": {"eval_rows": 10000, "numeric": 22, "cats": [12, 6], "missing": 0.005},
}

# workload name -> (latent model, part of the eval table). train_eval and
# score_batch share one model, so one saved ColumnConfig.json serves both;
# their tables are still independent draws.
_STREAM = {"stats_wide": (1, 0), "train_eval": (2, 1), "score_batch": (2, 2)}


@dataclass
class Table:
    """One generated table: the text written to disk plus the numpy view
    of it that the output checks recompute from."""

    header: list[str]
    lines: list[str]  # data lines, malformed ones included
    numeric: dict[str, np.ndarray]  # parsed value per row, NaN = missing token
    categorical: dict[str, np.ndarray]  # written string per row
    tag: np.ndarray  # 0/1 per row
    n_malformed: int

    def write(self, data_path: str) -> None:
        with open(data_path, "w") as f:
            f.write("\n".join(self.lines))
            f.write("\n")
        with open(header_path(data_path), "w") as f:
            f.write("|".join(self.header) + "\n")

    def save_arrays(self, path: str) -> None:
        """The numpy view only (no text), for the output checks."""
        np.savez(path, tag=self.tag, header=np.array(self.header), n_malformed=self.n_malformed,
                 **{f"num_{k}": v for k, v in self.numeric.items()},
                 **{f"cat_{k}": v for k, v in self.categorical.items()})

    @classmethod
    def load_arrays(cls, path: str) -> "Table":
        with np.load(path) as z:
            return cls(z["header"].tolist(), [],
                       {k[4:]: z[k] for k in z.files if k.startswith("num_")},
                       {k[4:]: z[k] for k in z.files if k.startswith("cat_")},
                       z["tag"], int(z["n_malformed"]))


def header_path(data_path: str) -> str:
    return data_path + ".pig_header"


def _with_missing(s: np.ndarray, u: np.ndarray, rate: float) -> np.ndarray:
    """Replace a ``rate`` share of cells, chosen by the uniform draws
    ``u``, with the missing tokens, half each."""
    return np.where(u < rate / 2, MISSING_TOKENS[0], np.where(u < rate, MISSING_TOKENS[1], s))


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-z))


def make_table(seed: int, workload: str, rows: int, n_numeric: int, cat_levels: list[int],
               missing: float, n_malformed: int = 0, part: int = 0) -> Table:
    """Rows of a latent logistic model: numeric features with varied
    scale, shift and skew, categoricals whose levels carry an effect, and
    a 0/1 tag drawn from the model. ``part`` selects an independent draw
    (train vs eval) from the same model.

    The latent model itself depends only on the workload, never on the
    seed: seeds change the rows, so model quality (AUC) differs between
    seeds only by sampling noise."""
    model_rng = np.random.default_rng([_STREAM[workload][0], 0])
    rng = np.random.default_rng([seed, _STREAM[workload][0], 1 + part])
    beta = model_rng.normal(0.0, 1.0, n_numeric) * (model_rng.random(n_numeric) < 0.7)
    scale = np.exp(model_rng.normal(0.0, 1.5, n_numeric))
    shift = model_rng.normal(0.0, 50.0, n_numeric)
    effects = [model_rng.normal(0.0, 0.8, k) for k in cat_levels]
    # level popularity follows a power law, so the wide categorical has a
    # long tail of rare levels
    probs = [(1.0 / np.arange(1, k + 1) ** 0.8) / (1.0 / np.arange(1, k + 1) ** 0.8).sum() for k in cat_levels]

    x = rng.normal(0.0, 1.0, (rows, n_numeric))
    z = x @ beta * 0.6
    cat_idx = []
    for k, (eff, p) in enumerate(zip(effects, probs)):
        idx = rng.choice(len(p), size=rows, p=p)
        cat_idx.append(idx)
        z = z + eff[idx]
    tag = (rng.random(rows) < _sigmoid(z - 0.8)).astype(np.int64)

    header = ["id", TARGET] + [f"n{i:02d}" for i in range(n_numeric)] + [f"c{k}" for k in range(len(cat_levels))]
    cols: list[np.ndarray] = [
        np.char.mod(f"r{part}_%07d", np.arange(rows)),
        tag.astype(str),
    ]
    numeric: dict[str, np.ndarray] = {}
    for i in range(n_numeric):
        v = x[:, i]
        if i % 4 == 3:
            v = np.exp(v)  # skewed, positive
        s = np.char.mod("%.4f", v * scale[i] + shift[i])
        s = _with_missing(s, rng.random(rows), missing)
        parsed = np.full(rows, np.nan)
        ok = ~np.isin(s, MISSING_TOKENS)
        parsed[ok] = s[ok].astype(np.float64)
        numeric[header[2 + i]] = parsed
        cols.append(s)
    categorical: dict[str, np.ndarray] = {}
    for k, idx in enumerate(cat_idx):
        s = np.char.mod(f"L{k}_%03d", idx)
        s = _with_missing(s, rng.random(rows), missing)
        categorical[f"c{k}"] = s
        cols.append(s)

    lines = ["|".join(r) for r in zip(*[c.tolist() for c in cols])]
    # malformed rows (wrong field count) that the reader must drop
    for j in range(n_malformed):
        at = int(rng.integers(0, len(lines) + 1))
        cut = lines[at % len(lines)].split("|")
        bad = "|".join(cut[:-2]) if j % 2 == 0 else "|".join(cut + ["extra"])
        lines.insert(at, bad)
    return Table(header, lines, numeric, categorical, tag, n_malformed)


def tables_for(workload: str, seed: int) -> dict[str, Table]:
    """The tables a workload reads, keyed by role."""
    sh = SHAPES[workload]
    common = dict(n_numeric=sh["numeric"], cat_levels=sh["cats"], missing=sh["missing"])
    if workload == "stats_wide":
        return {"data": make_table(seed, workload, sh["rows"], n_malformed=sh["malformed"], **common)}
    out = {"eval": make_table(seed, workload, sh["eval_rows"], part=_STREAM[workload][1], **common)}
    if "rows" in sh:
        out["train"] = make_table(seed, workload, sh["rows"], part=0, **common)
    return out


HOLDOUT_SEED = 1_000_003  # fixed: every seed's stats are scored on the same rows
HOLDOUT_ROWS = 20000


def holdout(workload: str, root: str | None = None) -> Table:
    """A large draw of the workload's latent model, the same for every
    seed: the rows a model built from one seed's table is scored on. Only
    its arrays are kept, cached under ``root`` when given."""
    path = os.path.join(root, f"holdout-{workload}-{shape_key(workload)}.npz") if root else None
    if path and os.path.exists(path):
        return Table.load_arrays(path)
    sh = SHAPES[workload]
    t = make_table(HOLDOUT_SEED, workload, HOLDOUT_ROWS, n_numeric=sh["numeric"],
                   cat_levels=sh["cats"], missing=sh["missing"], part=9)
    if path:
        os.makedirs(root, exist_ok=True)
        t.save_arrays(path + ".tmp.npz")
        os.replace(path + ".tmp.npz", path)
    return t


def load_tables(manifest: dict) -> dict[str, Table]:
    """The numpy views of a materialized workload's tables, by role."""
    return {role: Table.load_arrays(t["arrays"]) for role, t in manifest["tables"].items()}


def materialize(workload: str, seed: int, root: str) -> dict:
    """Write the workload's tables under ``root/<workload>-<seed>-<shape>`` once
    and return a manifest of paths and byte digests. An existing complete
    directory is reused: generation is the slow part at large shapes."""
    out = os.path.join(root, f"{workload}-{seed}-{shape_key(workload)}")
    manifest_path = os.path.join(out, "inputs.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    manifest = {"dir": out, "tables": {}}
    for role, t in tables_for(workload, seed).items():
        path = os.path.join(out, f"{role}.txt")
        t.write(path)
        t.save_arrays(os.path.join(out, f"{role}.npz"))
        manifest["tables"][role] = {
            "data": path,
            "header": header_path(path),
            "arrays": os.path.join(out, f"{role}.npz"),
            "rows": len(t.tag),
            "sha256": file_digest(path),
        }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)
    return manifest


# bump when the generated bytes change for an unchanged shape
GEN_VERSION = 4


def shape_key(workload: str) -> str:
    """Short digest of a workload's shape and generator version, so a
    changed generator never reads a stale cache entry."""
    key = json.dumps([GEN_VERSION, SHAPES[workload]], sort_keys=True)
    return hashlib.sha256(key.encode()).hexdigest()[:10]


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()
