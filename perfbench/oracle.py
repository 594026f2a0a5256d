"""Correctness of a run's outputs against the DuckDB oracles.

Query dumps go through tools/compare_oracle.py unchanged. A flow landing
that holds an oracle-checked query's body is read back and compared with
the same strict `compare` function from that script, after both sides are
put in one canonical row order (a landing's layout order is not the
query's ORDER BY).
"""
import glob
import importlib.util
import os
import subprocess
import sys


def compare_script(root):
    return os.path.join(root, "tools", "compare_oracle.py")


def load_compare(root):
    spec = importlib.util.spec_from_file_location("compare_oracle", compare_script(root))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_dumps(root, sfdir, dump_dir, names, timeout):
    """{name: None if it matches its oracle, else the reason}."""
    proc = subprocess.run([sys.executable, compare_script(root), sfdir, dump_dir, *names],
                          capture_output=True, text=True, timeout=timeout)
    results = {}
    for line in proc.stdout.splitlines():
        if line.startswith("PASS "):
            results[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            results[name] = why or "FAIL"
    for n in names:
        results.setdefault(n, f"not compared (rc {proc.returncode}): "
                              f"{(proc.stdout + proc.stderr).strip()[-300:]}")
    return results


def landed_files(path):
    """Parquet data files of one landing, skipping hidden and `_` side dirs."""
    out = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(f, path).split(os.sep)
        if not any(part.startswith(("_", ".")) for part in rel):
            out.append(f)
    return sorted(out)


def canonical(rows):
    return sorted(rows, key=lambda r: tuple(repr(x) for x in r))


def check_flow_oracles(root, sfdir, flow_oracles):
    """{check name: None if the landing matches its oracle, else the reason}."""
    if not flow_oracles:
        return {}
    import duckdb
    co = load_compare(root)
    results = {}
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    for o in flow_oracles:
        name = f"oracle {o['flow']}/{os.path.basename(o['path'])}={o['query']}"
        files = landed_files(o["path"])
        if not files:
            results[name] = "no landed files"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r}, hive_partitioning = true)").df()
            exp = con.execute(o["sql"]).df()
        except Exception as e:  # a broken landing is a failed check, not a crash
            results[name] = f"{type(e).__name__}: {e}"
            continue
        # A landing may carry a subset of the query's columns: compare the
        # columns both sides have.
        cols = [c for c in exp.columns if c in got.columns]
        if len(cols) < 2:
            results[name] = f"landing shares too few columns with the oracle: {cols}"
            continue
        g = canonical(got[cols].itertuples(index=False, name=None))
        e = canonical(exp[cols].itertuples(index=False, name=None))
        ok, msg = co.compare(g, cols, e, cols)
        results[name] = None if ok else msg
    return results
