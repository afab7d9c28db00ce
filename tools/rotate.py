"""Start-of-round plan-drift report: registry queries whose own
``def`` changed since the commit that recorded their latest fully-green
driver row (``__spark_entry__.green_rounds``), i.e. the candidates for
``__spark_entry__._DRIFT_REVERIFY``.

Usage (from the repository root, which must be a git checkout):
    python tools/rotate.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import fully_green, green_rounds  # noqa: E402


def _plan_drift(
    last_green_round: dict[str, str], queries: dict,
) -> list[tuple[str, str]]:
    """Green names whose query FUNCTION BODY changed since the commit
    that recorded their green row — their driver evidence predates the
    current plan, so they should be re-front-loaded (round-4
    ADVICE.md).  Function-body granularity: a registry function whose
    own ``def`` (signature and body; its registration decorator is not
    compared) is unchanged does not drift when an unrelated query in
    the same module is edited.  (Limitation: changes to shared helpers
    a query calls, or to an oracle passed in its decorator, are not
    attributed to it.)"""
    import ast
    import inspect
    import subprocess
    import textwrap

    file_commits: dict[str, list[str]] = {}
    commit_rows: dict[tuple[str, str], set[str]] = {}

    def green_commit(path: str, name: str) -> str | None:
        # PER-ROW green commit: the OLDEST commit of this CORRECTNESS
        # file in which THIS name's row is fully green.  Using the
        # file's single last-touch commit (the round-5..7 behavior)
        # masks drift whenever the file is re-committed after the row
        # was recorded — the baseline silently advances past
        # intervening source changes (round-6/7 ADVICE/VERDICT).
        # Rows appended in later commits still resolve correctly
        # because the walk takes the first commit where the row IS
        # green, not the file's add-commit (round-5 ADVICE.md).
        if path not in file_commits:
            file_commits[path] = subprocess.run(
                ["git", "log", "--reverse", "--format=%H", "--", path],
                capture_output=True, text=True,
            ).stdout.split()
        for commit in file_commits[path]:
            key = (commit, path)
            if key not in commit_rows:
                show = subprocess.run(
                    ["git", "show", f"{commit}:{path}"],
                    capture_output=True, text=True,
                )
                try:
                    rows = json.loads(show.stdout) if show.returncode == 0 else {}
                except json.JSONDecodeError:
                    rows = {}
                commit_rows[key] = fully_green(rows)
            if name in commit_rows[key]:
                return commit
        return None

    def fn_bodies(source: str) -> dict[str, str]:
        try:
            tree = ast.parse(source)
        except SyntaxError:
            return {}
        # Module-level defs only: a nested helper sharing a registry
        # query's name must not shadow it (round-5 ADVICE.md).
        defs = [
            node for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in defs:
            node.decorator_list = []
        return {node.name: ast.dump(node) for node in defs}

    # file → name → dumped AST at the green commit (cache per pair)
    old_cache: dict[tuple[str, str], dict[str, str]] = {}
    drifted = []
    for name, corr_path in sorted(last_green_round.items()):
        fn = queries.get(name)
        if fn is None:
            continue
        commit = green_commit(corr_path, name)
        if commit is None:
            continue
        src_path = os.path.relpath(fn.__code__.co_filename, os.getcwd())
        key = (commit, src_path)
        if key not in old_cache:
            show = subprocess.run(
                ["git", "show", f"{commit}:{src_path}"],
                capture_output=True, text=True,
            )
            old_cache[key] = fn_bodies(show.stdout) if show.returncode == 0 else {}
        old = old_cache[key].get(fn.__name__)
        try:
            cur_src = textwrap.dedent(inspect.getsource(fn))
        except OSError:
            continue
        cur = fn_bodies(cur_src).get(fn.__name__)
        if cur is not None and old is not None and cur != old:
            drifted.append((name, src_path))
        elif old is None:
            # function did not exist at the green commit under this
            # name (moved module or renamed) — flag conservatively
            drifted.append((name, src_path + " (not found at green commit)"))
    return drifted


def main() -> int:
    from nfl26_bigdatabowl_prediction_spark.plans.registry import QUERIES

    drifted = _plan_drift(
        {n: f"CORRECTNESS_r{r:02d}.json" for n, r in green_rounds().items()},
        QUERIES,
    )
    print(
        f"plan drift — green rows older than their plan source "
        f"({len(drifted)}); re-front-load these:"
    )
    for n, src in drifted:
        print(f"    {n}  ({src})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
