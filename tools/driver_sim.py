"""Strict simulation of the driver's CORRECTNESS gate.

The driver (round-1 evidence, CORRECTNESS_r01.json) canonicalizes each
result with a plain ``DataFrame.sort_values`` over **all** columns — which
crashes on list/dict-valued object columns (``TypeError: unhashable type``)
— and value-hashes in a dtype-sensitive way (int64 17 vs float64 17.0
mismatch, see fn_math r01). This tool reproduces that behavior so every
registry query can be validated against the driver's rules *before* the
driver runs:

  CRASH  — canonicalizer would die (complex-typed column)
  DTYPE  — column dtypes diverge after normalization (int vs float etc.)
  VALUE  — sorted values differ
  PASS   — byte-identical after canonicalization

A query that writes the shared session fails before any comparison: one
long-lived session serves every tenant, so nothing a query persists or
names may outlive it, and no query may set session conf while it runs
(``checked_run``: a cached relation, a temp view, a ``RuntimeConfig``
``set``/``unset`` call).

Normalization mirrors what r01 results imply the driver does: integer
widths → Int64, float widths → float64, datetimes → us. It does NOT
coerce int to float (fn_math failed r01 exactly there).

Usage:  python tools/driver_sim.py [sf_dir] [query ...]
        python tools/driver_sim.py --head N [sf_dir]   # first N registry entries
        python tools/driver_sim.py --changed-since REF [sf_dir]
            # only queries touched since git REF: a query is selected if
            # its defining corpus module changed, if that module imports a
            # changed module at top level (directly or through other repo
            # modules; a package is its __init__.py), if its function source
            # references a changed package module, or (transitively) if
            # it wraps a touched component query (a leaf in
            # corpus/packs.py's table, or a quoted name in a pack's source) —
            # the cheap re-verification loop for builder sessions; the
            # full sweep still runs at round end (COVERAGE.md)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_saas_factory_multi_tenant_data_pipeline_spark import get_spark
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all
from tools.oracle_check import duck_connect


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonicalization: will RAISE on unhashable cells."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            # Spark toPandas yields datetime.date objects for DATE columns;
            # r01 evidence (casts, fn_datetime PASSed) shows the driver
            # normalizes these against DuckDB's datetime64 — mirror that.
            nonnull = s.dropna()
            import datetime as _dt

            if len(nonnull) and all(isinstance(v, _dt.date) for v in nonnull):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    # the driver's sort_values over raw object columns — crashes on lists
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def strict_compare(sdf: pd.DataFrame, ddf: pd.DataFrame) -> str | None:
    """Return None on driver-grade PASS, else 'CRASH:…'/'DTYPE:…'/'VALUE:…'."""
    if len(sdf) != len(ddf):
        return f"VALUE: row count {len(sdf)} vs {len(ddf)}"
    try:
        a = driver_canon(sdf)
    except Exception as e:
        return f"CRASH: spark side canon: {type(e).__name__}: {e}"
    try:
        b = driver_canon(ddf)
    except Exception as e:
        return f"CRASH: oracle side canon: {type(e).__name__}: {e}"
    if list(a.columns) != list(b.columns):
        return f"DTYPE: columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            return f"DTYPE: col {c!r}: spark {a[c].dtype} vs duck {b[c].dtype}"
    for c in a.columns:
        av, bv = a[c], b[c]
        # object columns holding non-scalars would already have crashed the sort
        neq = ~((av == bv) | (av.isna() & bv.isna()))
        if neq.any():
            i = int(np.argmax(neq.values))
            return f"VALUE: col {c!r} row {i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r} ({int(neq.sum())} diffs)"
    return None


def temp_views(spark) -> set:
    return {tb.name for tb in spark.catalog.listTables() if tb.isTemporary}


def checked_run(spark, fn, sf_dir: str) -> tuple[pd.DataFrame, str | None]:
    """Run query ``fn`` to pandas; return the frame and what the run wrote
    into the shared session (None if nothing). Cached relations and temp
    views it left are removed, so the next query is judged on its own."""
    from pyspark.sql.conf import RuntimeConfig

    views = temp_views(spark)
    keys: list[str] = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy(real):
        def record(self, key, *value):
            keys.append(key)
            return real(self, key, *value)

        return record

    RuntimeConfig.set, RuntimeConfig.unset = spy(real_set), spy(real_unset)
    try:
        sdf = fn(spark, sf_dir).toPandas()
    finally:
        RuntimeConfig.set, RuntimeConfig.unset = real_set, real_unset
    wrote = []
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        wrote.append("left a cached relation")
        spark.catalog.clearCache()
    left = sorted(temp_views(spark) - views)
    if left:
        wrote.append(f"left temp views {left}")
        for v in left:
            spark.catalog.dropTempView(v)
    if keys:
        wrote.append(f"set session conf {sorted(set(keys))}")
    return sdf, "; ".join(wrote) or None


def changed_queries(registry, ref: str) -> set:
    """Queries touched since git ``ref`` (see module docstring)."""
    import subprocess

    out = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", "*.py"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    return touched_queries(registry, {os.path.normpath(pth) for pth in out})


def module_name(path: str) -> str:
    """Dotted module name of the repo-relative ``path``; a package's
    ``__init__.py`` names the package."""
    parts = os.path.splitext(os.path.normpath(path))[0].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def module_file(name: str) -> str | None:
    """Repo-relative source file of dotted module ``name``; None outside
    the repo."""
    base = name.replace(".", os.sep)
    for f in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(os.path.join(REPO, f)):
            return f
    return None


def top_level_imports(path: str) -> set:
    """Dotted names of every module the repo-relative ``path`` imports at
    top level. ``from m import n`` gives ``m`` and ``m.n`` (``n`` may be a
    submodule); relative imports resolve against ``path``'s package."""
    import ast

    with open(os.path.join(REPO, path)) as fh:
        tree = ast.parse(fh.read())
    package = module_name(path).split(".")
    if not path.endswith("__init__.py"):
        package = package[:-1]
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(package[: len(package) - node.level + 1] + ([base] if base else []))
            names.add(base)
            names |= {f"{base}.{a.name}" for a in node.names}
    return names


def touched_queries(registry, changed_paths: set) -> set:
    """Queries a change to ``changed_paths`` (repo-relative) can affect."""
    import functools
    import inspect

    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.packs import PACKS

    changed = {module_name(pth) for pth in changed_paths}
    stems = {m.rsplit(".", 1)[-1] for m in changed}
    imports_of = functools.cache(top_level_imports)

    @functools.cache
    def reaches_change(mod_file: str) -> bool:
        # the repo modules mod_file imports, directly or through each other
        seen, todo = set(), [module_name(mod_file)]
        while todo:
            m = todo.pop()
            f = module_file(m)
            if f is None or m in seen:
                continue
            seen.add(m)
            todo.extend(imports_of(f))
        return bool(seen & changed)

    touched = set()
    sources = {}
    for name, spec in registry.items():
        try:
            mod_file = os.path.normpath(os.path.relpath(
                inspect.getsourcefile(spec.spark_fn), REPO))
            sources[name] = inspect.getsource(spec.spark_fn) + (spec.oracle or "")
        except (TypeError, OSError):
            touched.add(name)  # can't inspect → be safe, re-run
            continue
        if reaches_change(mod_file):
            touched.add(name)
            continue
        src = sources[name]
        if any(f"operators.{st} " in src or f"operators.{st}\n" in src
               or f"import {st}" in src or f"operators import {st}" in src
               or f"{st} import" in src
               for st in stems):
            touched.add(name)
    # table packs list their leaves; hand-written packs name their
    # components as string literals in their source
    edges = {s.name: {p.leaf for p in s.parts} for s in PACKS}
    for name, src in sources.items():
        if name not in edges:
            edges[name] = {c for c in registry if c != name and f'"{c}"' in src}
    return close_over_packs(touched, edges)


def close_over_packs(touched: set, edges: dict) -> set:
    """Add every pack whose components (``edges[pack]``) meet the
    selection, until nothing more is added."""
    selected = set(touched)
    grew = True
    while grew:
        grew = False
        for pack, parts in edges.items():
            if pack not in selected and parts & selected:
                selected.add(pack)
                grew = True
    return selected


def main() -> int:
    argv = sys.argv[1:]
    head = None
    since = None
    if argv and argv[0] == "--head":
        head = int(argv[1])
        argv = argv[2:]
    if argv and argv[0] == "--changed-since":
        since = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    registry = load_all()
    if since is not None:
        sel = changed_queries(registry, since)
        only |= sel
        print(f"--changed-since {since}: {len(sel)} touched queries")
        if not sel:
            print("nothing touched — 0 pass, 0 fail")
            return 0
    unknown = sorted(only - set(registry))
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}")
        return 1
    if only:
        # explicit names always run, regardless of --head
        names = [n for n in registry if n in only]
    else:
        names = list(registry)
        if head is not None:
            names = names[:head]
    spark = get_spark("driver-sim")
    con = duck_connect(sf_dir)
    n_pass = n_fail = n_noracle = 0
    failures: list[str] = []
    for name in names:
        spec = registry[name]
        t0 = time.time()
        try:
            sdf, wrote = checked_run(spark, spec.spark_fn, sf_dir)
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            n_fail += 1
            continue
        if wrote:
            print(f"FAIL {name}: {wrote}")
            failures.append(name)
            n_fail += 1
            continue
        if spec.oracle is None:
            # driver records a rows-only check; only crash risk matters
            try:
                driver_canon(sdf)
                print(f"---- {name}: rows-only (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
                n_noracle += 1
            except Exception as e:
                print(f"FAIL {name}: rows-only but canon CRASH: {e}")
                failures.append(name)
                n_fail += 1
            continue
        try:
            ddf = con.execute(spec.oracle).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            n_fail += 1
            continue
        diff = strict_compare(sdf, ddf)
        if diff:
            print(f"FAIL {name}: {diff} [{time.time()-t0:.1f}s]")
            failures.append(name)
            n_fail += 1
        else:
            print(f"PASS {name} (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    if failures:
        print("failing:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
