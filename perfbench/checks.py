"""Output checks, run outside the timed region.

Cube workload: exact cardinality laws that follow from the corpus shape
alone, plus an order-independent digest of the gold tables and of the
exported VOTable read back from disk (pinned per seed in ``pins.json`` where
a pin exists, and compared across passes always).

Query mix: every query's result is compared with its DuckDB oracle under
the strict canon of ``tools/parity_full.py`` (full-precision floats,
matching dtype kinds).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os

import numpy as np

from corpus import BANDS, CUTOUT, Shape

ZOOMS = 5
SPEC_SAMPLES = 4620  # the reference rebin grid


def cube_laws(shape: Shape, n_distinct: int) -> dict[str, int]:
    """Row counts every cube build of ``shape`` must produce.

    Each spectrum lies inside exactly its own field's five frames, so it
    gets one cutout per band and zoom; co-located spectra form one target.
    """
    refs_per_zoom = shape.spectra * len(BANDS)
    spectrum_rows = sum(SPEC_SAMPLES >> z for z in range(ZOOMS))
    cutout_rows = sum(refs_per_zoom * (CUTOUT >> z) ** 2 for z in range(ZOOMS))
    return {
        "images": ZOOMS * shape.frames,
        "spectra": ZOOMS * shape.spectra,
        "cutout_refs": ZOOMS * refs_per_zoom,
        "ml_cube_spectra": ZOOMS * n_distinct,
        "ml_cube_images": ZOOMS * len(BANDS) * n_distinct,
        "visualization_cube": shape.spectra * spectrum_rows + cutout_rows,
    }


def _canon(v):
    if v is None:
        return None
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple, np.ndarray)):
        try:  # numeric arrays: hash the float64 bits (as strict as repr)
            arr = np.asarray(v, dtype=np.float64)
        except (TypeError, ValueError):
            return [_canon(x) for x in v]
        arr = np.where(np.isnan(arr), np.nan, arr)
        return f"{arr.shape}:{hashlib.sha256(arr.tobytes()).hexdigest()}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return str(v)


#: columns that hold or hash an input file's path, which depends on where
#: the checkout lives
PATH_COLUMNS = ("path", "spec_id", "image_id")


def _rows_digest(cols: list[str], rows) -> str:
    lines = sorted(json.dumps([_canon(v) for v in r], separators=(",", ":")) for r in rows)
    h = hashlib.sha256(json.dumps(cols).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def digest(df) -> str:
    """Order-independent sha256 of a DataFrame's rows (columns by name),
    leaving out the path columns."""
    cols = sorted(c for c in df.columns if c not in PATH_COLUMNS)
    return _rows_digest(cols, df.select(*cols).collect())


def votable_digest(path: str) -> tuple[int, str]:
    """(rows, digest) of a VOTable file as the exports module reads it back,
    leaving out the path columns."""
    from hiss_cube_spark.sources.exports import read_votable

    names, rows = read_votable(path)
    keep = sorted((n, i) for i, n in enumerate(names) if n not in PATH_COLUMNS)
    return len(rows), _rows_digest([n for n, _ in keep], ([r[i] for _, i in keep] for r in rows))


def _parity_canon(repo: str):
    spec = importlib.util.spec_from_file_location(
        "parity_full", os.path.join(repo, "tools", "parity_full.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon_cell, mod._kind


class Oracle:
    """DuckDB views over the generated tables; compares one result frame."""

    def __init__(self, repo: str, sf_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.canon_cell, self.kind = _parity_canon(repo)
        self.con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def rows(self, pdf, cols) -> list[tuple]:
        return sorted(
            tuple(self.canon_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)
        )

    def compare(self, sql: str, sp) -> tuple[list[str], str]:
        """(issues, digest of the Spark result under the strict canon)."""
        dk = self.con.execute(sql).df()
        cols = sorted(sp.columns)
        ours = self.rows(sp, cols)
        issues = []
        if cols != sorted(dk.columns):
            issues.append(f"columns {cols} vs {sorted(dk.columns)}")
        elif len(sp) != len(dk):
            issues.append(f"rows {len(sp)} vs {len(dk)}")
        else:
            for c in cols:
                if self.kind(sp[c].dtype, sp[c]) != self.kind(dk[c].dtype, dk[c]):
                    issues.append(f"dtype kind of {c}")
            ndiff = sum(x != y for x, y in zip(ours, self.rows(dk, cols)))
            if ndiff:
                issues.append(f"{ndiff} rows differ")
        h = hashlib.sha256(json.dumps(cols).encode())
        for r in ours:
            h.update(json.dumps(r).encode())
        return issues, h.hexdigest()

    def close(self) -> None:
        self.con.close()
