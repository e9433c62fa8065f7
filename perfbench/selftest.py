"""Self-tests of the benchmark itself (not of the package).

    python3 perfbench/selftest.py           # all checks, about 3 minutes
    python3 perfbench/selftest.py --quick   # generator and parser checks only

1. The generators are deterministic: the same seed gives the same inputs,
   and another seed gives other values with the same row counts.
2. The reference parsers follow the paper's §1 rules.
3. A planted wrong result (one flipped value, ``--plant-fault``) is caught
   by each workload's output check and counted as failed ops.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import sheetgen  # noqa: E402
import tablegen  # noqa: E402


def check_generators() -> None:
    def sheet(seed):
        s = sheetgen.SheetStream(seed, 500)
        out = [s.base(), s.batch(new_rows=40, nopk_edits=5, pk_edits=5)]
        return out, s.staging, s.quarantine

    assert sheet(7) == sheet(7), "sheet generator is not deterministic"
    a, b = sheet(7), sheet(8)
    assert a[0] != b[0], "different seeds gave the same sheet"
    assert [len(x["values"]) for x in a[0]] == [len(x["values"]) for x in b[0]]

    t1, t2, t3 = (tablegen.make_tables(0.001, s) for s in (3, 3, 4))
    for name in t1:
        assert t1[name].equals(t2[name]), f"table {name} is not deterministic"
        assert len(t1[name]) == len(t3[name]), f"table {name} size depends on the seed"
    assert not t1["lineitem"].equals(t3["lineitem"]), "different seeds gave the same table"


def check_parsers() -> None:
    money = {
        "1 234,56": "1234.56", "($2,500.00)": "-2500", "1234.5": "1234.5",
        "1,234": "1.234",  # lone comma, 3 digits after it: decimal point
        "1,2345": "12345", "1,234,567": "1234567", "1.234,5": "1234.5",
        "€12": "12", "": None,
    }
    for text, want in money.items():
        got = sheetgen.parse_money(text)
        assert got == (None if want is None else Decimal(want)), (text, got)
    for bad in sheetgen.BAD_MONEY:
        try:
            sheetgen.parse_money(bad)
        except ValueError:
            continue
        raise AssertionError(f"{bad!r} parsed as money")
    assert sheetgen.parse_date("05.06.2023 10:30:00") == "2023-06-05 10:30:00"
    assert sheetgen.parse_date("2023-03-05") == "2023-03-05 00:00:00"
    for bad in sheetgen.BAD_DATES:
        try:
            sheetgen.parse_date(bad)
        except ValueError:
            continue
        raise AssertionError(f"{bad!r} parsed as a date")


def check_planted_fault(workload: str) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0", "--plant-fault"],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False, f"{workload}: planted fault not caught"
    assert 0 < result["failed"] <= result["attempted"], result
    print(f"{workload}: planted fault caught, {result['failed']}/{result['attempted']} ops failed")


def main() -> int:
    check_generators()
    check_parsers()
    print("generators deterministic, parsers follow the paper's rules")
    if "--quick" not in sys.argv:
        for workload in ("elt_incremental", "mart_queries"):
            check_planted_fault(workload)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
