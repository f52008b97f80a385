"""The spatial census: the registered spatial queries of
``__spark_entry__.queries()`` plus ``pipeline.run_flagship_staged``, run
closed loop in rounds whose order the seed permutes.

Each query's output is collected to pandas inside its timer, as a caller of
``queries()`` would, and compared outside the timer with its DuckDB oracle
the way ``tools/check_oracles.py`` compares them.  ``flagship_page_cells``
and the staged flagship are compared with the goldens of the census tier's
fixtures instead: the former's oracle reads the sf0.01 goldens whatever the
tier, and the latter has no oracle.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import shutil
import statistics
import time

import pandas as pd

from harness import CheckFailed, dir_bytes, timed

QUERIES = [
    "pip_region_rows",
    "pip_region_rows_shuffle",
    "pip_region_sets",
    "pip_antimeridian",
    "flagship_map",
    "cells_dict",
    "doc_cell_ids",
    "knn",
    "knn_ring",
    "vector_to_raster",
    "raster_to_vector",
    "tile_counts",
    "cell_dual_graph",
    "connected_components",
    "hop_distances",
    "refine_fixpoint",
    "flagship_page_cells",
]
#: the op that runs pipeline.run_flagship_staged into a fresh directory
STAGED = "flagship_staged"
#: checked against the fixture goldens rather than their oracles
GOLDEN_CHECKED = {"flagship_page_cells", STAGED}


# ---------------------------------------------------------------------------
# reference outputs
# ---------------------------------------------------------------------------

def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def oracle_frames(work: str, sf_dir: str) -> dict[str, pd.DataFrame]:
    """DuckDB oracle outputs over the census documents.  The inputs are the
    same on every run, and a few oracles take most of a minute (recursive
    CTEs), so each result is kept in the work directory under a key of its
    SQL text and the documents file."""
    import duckdb

    import __spark_entry__ as E

    sqls = E.oracle_sql()
    docs_sha = _file_sha(os.path.join(sf_dir, "documents.parquet"))
    cache = os.path.join(work, "oracles")
    os.makedirs(cache, exist_ok=True)
    con, out = None, {}
    for name in QUERIES:
        if name in GOLDEN_CHECKED:
            continue
        key = hashlib.sha256((sqls[name] + docs_sha).encode()).hexdigest()[:20]
        path = os.path.join(cache, f"{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute(
                    "CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
                )
            df = con.sql(sqls[name]).df()
            with open(path + ".tmp", "wb") as f:
                pickle.dump(df, f)
            os.rename(path + ".tmp", path)
        with open(path, "rb") as f:
            out[name] = pickle.load(f)
    if con is not None:
        con.close()
    return out


def references(work: str, sf_dir: str, fixtures: str) -> dict:
    """Everything the census compares its outputs with."""
    return {"oracles": oracle_frames(work, sf_dir), "golden": _golden(fixtures)}


def _golden(fixtures: str) -> pd.DataFrame:
    cells = pd.read_parquet(os.path.join(fixtures, "golden_page_cells.parquet"))
    regions = pd.read_parquet(os.path.join(fixtures, "golden_page_regions.parquet"))
    regions["region_ids"] = regions["region_ids"].map(lambda r: ",".join(map(str, r)))
    return cells.merge(regions, on="url").sort_values("url").reset_index(drop=True)


def compare_oracle(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Schema, row count and exact sorted-row equality, as
    tools/check_oracles.py checks them."""
    from tools.check_oracles import norm

    g_cols, w_cols = sorted(got.columns), sorted(want.columns)
    if g_cols != w_cols:
        raise CheckFailed(f"{name}: columns {g_cols} vs oracle {w_cols}")
    if len(got) != len(want):
        raise CheckFailed(f"{name}: {len(got)} rows vs oracle {len(want)}")
    g = sorted(map(tuple, got[g_cols].map(norm).itertuples(index=False)))
    w = sorted(map(tuple, want[w_cols].map(norm).itertuples(index=False)))
    if g != w:
        bad = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
        raise CheckFailed(f"{name}: sorted row {bad} is {g[bad]}, oracle has {w[bad]}")


def compare_golden(name: str, got: pd.DataFrame, golden: pd.DataFrame) -> None:
    cols = ["url", "cell_key", "cell_id"] + (["region_ids"] if "region_ids" in got else [])
    got = got[cols].sort_values("url").reset_index(drop=True)
    if "region_ids" in got:
        got["region_ids"] = got["region_ids"].map(lambda r: ",".join(map(str, r)))
    want = golden[cols]
    if len(got) != len(want):
        raise CheckFailed(f"{name}: {len(got)} rows vs golden {len(want)}")
    diff = ~(got == want).all(axis=1)
    if diff.any():
        raise CheckFailed(f"{name}: {int(diff.sum())} rows differ from the golden, e.g. {got[diff].iloc[0].to_dict()}")


# ---------------------------------------------------------------------------
# rounds
# ---------------------------------------------------------------------------

class Census:
    def __init__(self, ctx, sf_dir: str, fixtures: str, refs: dict):
        self.ctx = ctx
        self.sf_dir = sf_dir
        self.fixtures = fixtures
        self.ckpt_root = os.path.join(ctx.work, "ckpt", str(os.getpid()))
        self.oracles = refs["oracles"]
        self.golden = refs["golden"]
        self.checked_rows: dict[str, int] = {}
        self._n_staged = 0

    def setup(self) -> None:
        """Build the per-session artifacts the queries share: the
        oracle-store engines, their candidate broadcasts and the documents'
        cells dictionary, and ship the package to the Python workers."""
        import __spark_entry__ as E

        spark = self.ctx.spark
        E._ensure_shipped(spark)
        E._engine(spark)
        E._candidates_bcast(spark)
        E._antim_engine(spark)
        E._doc_cells_dict(spark, self.sf_dir).count()

    def _staged(self):
        from libosmtools_spark.pipeline import run_flagship_staged

        self._n_staged += 1
        path = os.path.join(self.ckpt_root, str(self._n_staged))
        run_flagship_staged(self.ctx.spark, self.fixtures, path)
        return path

    def _check(self, name: str, result) -> dict:
        """Check one op's output; the oracle comparison runs once per query
        per run, later outputs must match the checked row count."""
        extra = {}
        if name == STAGED:
            extra["bytes"] = dir_bytes(result)
            got = pd.read_parquet(os.path.join(result, "flagship"))
            shutil.rmtree(result, ignore_errors=True)
            compare_golden(name, got, self.golden)
        elif name not in self.checked_rows:
            if name in GOLDEN_CHECKED:
                compare_golden(name, result, self.golden)
            else:
                compare_oracle(name, result, self.oracles[name])
            self.checked_rows[name] = len(result)
        elif len(result) != self.checked_rows[name]:
            raise CheckFailed(f"{name}: {len(result)} rows, the checked op had {self.checked_rows[name]}")
        return extra

    def op(self, name: str, op_id: str) -> dict:
        """One census op, timed, then checked."""
        import __spark_entry__ as E

        groups, tr = self.ctx.groups, self.ctx.tracer
        fn = E.queries()[name] if name != STAGED else None
        with groups.group(name) as gid, tr.span(f"census.{name}", op_id), timed({}) as t:
            result = self._staged() if fn is None else fn(self.ctx.spark, self.sf_dir).toPandas()
        rec = {"wall_s": t["wall_s"], "cpu_s": t["cpu_s"], "gid": gid}
        rec.update(self._check(name, result))
        return rec

    def rounds(self, seconds: float = 0.0) -> dict:
        """Closed-loop rounds over every query and the staged flagship, in an
        order the seed permutes per round: at least one, then more until
        ``seconds`` have passed."""
        rng = random.Random(self.ctx.seed)
        per = {q: [] for q in QUERIES + [STAGED]}
        attempted, failed, errors, n_round = 0, 0, [], 0
        t_end = time.monotonic() + seconds
        while n_round == 0 or time.monotonic() < t_end:
            n_round += 1
            order = QUERIES + [STAGED]
            rng.shuffle(order)
            for name in order:
                attempted += 1
                try:
                    per[name].append(self.op(name, f"round{n_round}"))
                except Exception as e:  # noqa: BLE001 - every failed op is counted and reported
                    failed += 1
                    errors.append(f"round{n_round} {name}: {type(e).__name__}: {str(e)[:300]}")
        shutil.rmtree(self.ckpt_root, ignore_errors=True)
        return {"per": per, "attempted": attempted, "failed": failed, "errors": errors, "rounds": n_round}


def totals(per: dict) -> tuple[float, float]:
    """(census_s, census_cpu_s): sums over ops of each op's median."""
    wall = sum(statistics.median(r["wall_s"] for r in v) for v in per.values() if v)
    cpu = sum(statistics.median(r["cpu_s"] for r in v) for v in per.values() if v)
    return wall, cpu


def layer_metrics(ctx, per: dict) -> dict:
    out = {}
    for name, recs in per.items():
        if not recs:
            continue
        wall = statistics.median(r["wall_s"] for r in recs)
        if name == STAGED:
            out["checkpoint.staged_s"] = wall
            out["checkpoint.bytes"] = recs[-1]["bytes"]
        else:
            out[f"census.{name}_s"] = wall
            out[f"census.{name}_tasks"] = ctx.groups.counts(recs[-1]["gid"])[0]
    return out
