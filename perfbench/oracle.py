"""Output check against DuckDB, with the rules of the repository's
dev/check.py: columns matched by name, rows in the order produced,
floats compared bitwise, integer widths normalized but HUGEINT never
(so an un-cast integer sum fails), and rows > 0 for cells that have no
oracle SQL. Columns are compared as Arrow arrays, so large results
check quickly.

DuckDB's answers are computed once per fixture fingerprint and kept
under the work directory; so are the digests of results that matched,
so a later run only re-checks results whose bytes changed.

Connected-component oracles (q62, q121, q124) unroll label propagation
into a fixed number of rounds and return no labels when the last round
has not converged: an empty answer there means "not enough rounds", not
a wrong engine result. Their SQL is run with the rounds extended to
CC_ROUNDS (`deepen_cc`). Converged labels are a fixpoint, so the extra
rounds leave a converged answer unchanged, and the SQL's own
convergence check still empties an answer that needs more."""
import glob
import hashlib
import json
import os
import pickle
import re

import duckdb
import numpy as np
import pyarrow as pa

from fixture import TABLES

_INT_WIDTHS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
               "UTINYINT", "USMALLINT", "UINTEGER"}


CC_ROUNDS = 24
_CC_ROUND = re.compile(r"\bl(\d+) AS MATERIALIZED \(")


def _close(sql, k):
    """Index just past the parenthesis that closes the one at sql[k]."""
    depth = 0
    for j in range(k, len(sql)):
        depth += {"(": 1, ")": -1}.get(sql[j], 0)
        if depth == 0:
            return j + 1
    raise ValueError("unbalanced parentheses in oracle SQL")


def deepen_cc(sql, rounds=CC_ROUNDS):
    """`sql` with its unrolled label-propagation rounds l1..lN extended
    to l1..l`rounds`; other SQL unchanged. Round r is round 1 with l0
    and l1 renamed l(r-1) and lr, and what followed lN reads l`rounds`."""
    found = {int(m.group(1)): m for m in _CC_ROUND.finditer(sql)}
    last = max(found, default=0)
    if last < 1 or last >= rounds or sorted(found) != list(range(last + 1)):
        return sql
    first = sql[found[1].start():_close(sql, found[1].end() - 1)]
    end = _close(sql, found[last].end() - 1)
    extra = "".join(
        ",\n" + re.sub(r"\bl([01])\b", lambda m, r=r: f"l{r - 1 + int(m.group(1))}", first)
        for r in range(last + 1, rounds + 1))
    return sql[:end] + extra + re.sub(rf"\bl{last}\b", f"l{rounds}", sql[end:])


def norm_type(t):
    t = str(t).upper()
    return "BIGINT" if t in _INT_WIDTHS else t


def _float_bits(col):
    """Bit patterns of a float column, every NaN made one pattern
    (NaN payloads do not count; -0.0 and 0.0 differ)."""
    x = col.fill_null(0).to_numpy(zero_copy_only=False)
    bits = x.view(np.int64 if x.dtype == np.float64 else np.int32).copy()
    bits[np.isnan(x)] = -1
    return bits


def _same_column(a, b):
    """Index of the first row where columns a and b differ, else None."""
    a, b = a.combine_chunks(), b.combine_chunks()
    nulls = np.asarray(a.is_null()) != np.asarray(b.is_null())
    if pa.types.is_floating(a.type) and pa.types.is_floating(b.type):
        diff = nulls | (_float_bits(a) != _float_bits(b))
    elif pa.types.is_integer(a.type) and pa.types.is_integer(b.type):
        diff = nulls | (np.asarray(a.fill_null(0).cast(pa.int64())) !=
                        np.asarray(b.fill_null(0).cast(pa.int64())))
    elif a.type == b.type and a.equals(b):
        return None
    else:  # nested or differently typed: value equality, as Python sees it
        la, lb = a.to_pylist(), b.to_pylist()
        return next((k for k, (x, y) in enumerate(zip(la, lb)) if x != y), None)
    hits = np.flatnonzero(diff)
    return int(hits[0]) if len(hits) else None


def compare(got, exp):
    """None if `got` matches `exp`, else the first difference. Each is
    (columns, DuckDB type names, pyarrow Table)."""
    gcols, gtypes, gt = got
    ecols, etypes, et = exp
    if sorted(gcols) != sorted(ecols):
        return f"cols {sorted(gcols)} != {sorted(ecols)}"
    gi = sorted(range(len(gcols)), key=lambda i: gcols[i])
    ei = sorted(range(len(ecols)), key=lambda i: ecols[i])
    bad = [f"{ecols[j]}: spark={gtypes[i]} duck={etypes[j]}"
           for i, j in zip(gi, ei) if norm_type(gtypes[i]) != norm_type(etypes[j])]
    if bad:
        return "column types " + "; ".join(bad)
    if gt.num_rows != et.num_rows:
        return f"rowcount {gt.num_rows} != {et.num_rows}"
    for i, j in zip(gi, ei):
        k = _same_column(gt.column(i), et.column(j))
        if k is not None:
            return (f"row {k}, column {gcols[i]}: spark={gt.column(i)[k].as_py()!r} "
                    f"duck={et.column(j)[k].as_py()!r}")
    return None


def fetch(rel):
    return rel.columns, [str(t) for t in rel.types], rel.arrow()


class Oracle:
    """DuckDB answers and verified digests for one fixture."""

    def __init__(self, work, fixture_dir, fingerprint):
        self.fixture_dir = fixture_dir
        self.sql = {}  # cell -> oracle SQL, filled from each run's oracle_sql.json
        with open(__file__, "rb") as f:  # answers depend on this file's rules too
            rules = hashlib.sha256(f.read()).hexdigest()[:12]
        self.dir = os.path.join(work, "oracle", f"{fingerprint}-{rules}")
        os.makedirs(self.dir, exist_ok=True)
        self.verified_path = os.path.join(self.dir, "verified.json")
        self.verified = (json.load(open(self.verified_path))
                         if os.path.exists(self.verified_path) else {})
        self._con = None

    def con(self):
        if self._con is None:
            c = duckdb.connect()
            c.execute("SET memory_limit='4GB'")
            c.execute("SET threads=4")
            c.execute(f"SET temp_directory='{self.dir}/duck_tmp'")
            for t in TABLES:
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                          f"read_parquet('{self.fixture_dir}/{t}.parquet')")
            self._con = c
        return self._con

    def answer(self, cell):
        path = os.path.join(self.dir, cell + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        try:
            ans = fetch(self.con().sql(deepen_cc(self.sql[cell])))
        except Exception as e:  # an oracle that cannot run fails the cell
            ans = f"oracle SQL error: {e}"
        with open(path + ".tmp", "wb") as f:
            pickle.dump(ans, f)
        os.replace(path + ".tmp", path)
        return ans

    def is_verified(self, cell, digest):
        return digest in self.verified.get(cell, [])

    def known(self):
        return sorted(f"{c}:{d}" for c, ds in self.verified.items() for d in ds)

    def check_written(self, cell, digest, result_dir):
        """Compare the parquet the harness wrote for `cell`; None when it
        matches (and remember its digest), else the reason."""
        files = sorted(glob.glob(os.path.join(result_dir, cell, "*.parquet")))
        if not files:
            return "no result written"
        exp = self.answer(cell)
        if isinstance(exp, str):
            return exp
        try:
            got = fetch(self.con().sql(f"SELECT * FROM read_parquet({files!r})"))
        except Exception as e:
            return f"result unreadable: {e}"
        why = compare(got, exp)
        if why is None:
            self.verified.setdefault(cell, []).append(digest)
            with open(self.verified_path + ".tmp", "w") as f:
                json.dump(self.verified, f)
            os.replace(self.verified_path + ".tmp", self.verified_path)
        return why
