"""The full oracle gate: every registered query against its DuckDB
oracle at sf0.001, through ``tools/check.py``'s own comparison."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_CHECK = Path(__file__).resolve().parents[1] / "tools" / "check.py"

# Queries allowed to return zero rows at sf0.001, each with the reason.
# Any other empty result fails the gate: a match on 0 rows verifies
# nothing.
EMPTY_OK = {
    "volume_shipping": "sf0.001 has 10 suppliers, none in NATION_1 or NATION_2",
}


def _load_check():
    spec = importlib.util.spec_from_file_location("tools_check", _CHECK)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_query_matches_its_oracle(spark, sf_dir):
    import __spark_entry__ as e

    check = _load_check()
    con = check.oracle_db(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    failed, empty = {}, []
    for name, fn in qs.items():
        n_rows, problems = check.check_query(spark, con, fn, oracles.get(name), sf_dir)
        if problems:
            failed[name] = "; ".join(problems)
        elif not n_rows and name not in EMPTY_OK:
            empty.append(name)
    con.close()

    assert not failed, "\n".join(f"{k}: {v}" for k, v in failed.items())
    assert not empty, f"empty results verify nothing: {empty}"
    assert set(EMPTY_OK) <= set(qs)
    assert (len(oracles), len(qs) - len(oracles)) == (210, 2)
