"""Seeded generator of sheet-shaped ELT input and of the staging state it
must produce.

A ``SheetStream`` yields a base sheet and then delta batches, each in the
Sheets API ``values`` shape (header row + data rows). It keeps its own
model of what the pipeline must hold afterwards, derived only from the
rows it generated and the parsing rules of the paper (§1):

- money: strip ``$ € ₽``, NBSP and spaces; ``(x)`` is negative; with both
  ``,`` and ``.`` the later one is the decimal point; a lone ``,`` with at
  most 3 digits after it is a decimal point, otherwise a thousands
  separator; empty is NULL;
- dates: ``dd.MM.yyyy``, ``dd.MM.yyyy HH:mm:ss`` and ``yyyy-MM-dd``;
- loading is insert-if-absent on the row id: a row with a ``pk`` reaches
  the raw layer only the first time its id is offered, so later edits of
  it are ignored;
- a row without a ``pk`` gets an id from its content, so every edit of it
  is a new raw row and a new staging row beside the old one;
- a row whose money or date cell does not parse goes to quarantine, not
  to staging.

Every payload carries a unique description cell, so no two generated rows
share a content hash.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from decimal import Decimal

HEADER = ["pk", "Date", "Тип", "Client", "Категория", "Total RUB",
          "Месяц", "Год", "Описание"]
TYPES = ["Доход", "Расход", "Income", "Expense", "Прочее"]
CLIENTS = ([f"ООО Клиент {i}" for i in range(20)]
           + [f"Client {chr(65 + i)}" for i in range(20)])
CATEGORIES = ["Software", "Rent", "Salaries", "Marketing", "Travel", "Аренда",
              "Услуги", ""]
DATE_FORMATS = ["%d.%m.%Y", "%Y-%m-%d", "%d.%m.%Y %H:%M:%S"]
BAD_SHARE = 0.01  # share of new rows with a malformed money or date cell
BAD_MONEY = ["12x34", "1.2.3,4,5", "--5", "abc"]
BAD_DATES = ["31.13.2023", "2023-02-30", "not a date"]
Q4 = Decimal("0.0001")


def parse_money(s: str) -> Decimal | None:
    """Reference money parser (paper §1). Raises ValueError if malformed."""
    s = s.strip()
    if not s:
        return None
    neg = s.startswith("(") and s.endswith(")")
    if neg:
        s = s[1:-1].strip()
    for ch in ("$", "€", "₽", " ", " "):
        s = s.replace(ch, "")
    if "," in s and "." in s:
        if s.rfind(",") > s.rfind("."):
            s = s.replace(".", "").replace(",", ".")
        else:
            s = s.replace(",", "")
    elif "," in s:
        tail = s.rsplit(",", 1)[1]
        s = s.replace(",", ".") if s.count(",") == 1 and len(tail) <= 3 else s.replace(",", "")
    if not re.fullmatch(r"-?\d+(\.\d+)?", s):
        raise ValueError(s)
    v = Decimal(s)
    return (-v if neg else v).quantize(Q4)


def parse_date(s: str) -> str | None:
    """Reference date parser (paper §1) → 'YYYY-MM-DD HH:MM:SS'."""
    s = s.strip()
    if not s:
        return None
    for fmt in DATE_FORMATS:
        try:
            return dt.datetime.strptime(s, fmt).strftime("%Y-%m-%d %H:%M:%S")
        except ValueError:
            pass
    raise ValueError(s)


def format_money(cents: int, style: int) -> str:
    """Render an amount in one of the spellings sheets contain."""
    neg, cents = cents < 0, abs(cents)
    units, frac = divmod(cents, 100)
    grouped = f"{units:,}"
    if style == 0:
        body = f"{units}.{frac:02d}"
    elif style == 1:
        body = f"{grouped.replace(',', ' ')},{frac:02d}"
    elif style == 2:
        body = f"${grouped}.{frac:02d}"
    elif style == 3:
        body = f"{units},{frac // 10}"  # lone comma, 1 digit: decimal point
    elif style == 4:
        body = f"{units * 1000 + frac:,}"  # grouped integer: thousands commas
    else:
        body = f"{units}₽"
    return f"({body})" if neg else body


class SheetStream:
    """Base sheet plus delta batches with the expected pipeline state."""

    def __init__(self, seed: int, base_rows: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.base_rows = base_rows
        self.next_pk = 0
        self.next_desc = 0
        self.raw_pks: set[str] = set()
        self.nopk_live: list[dict] = []  # latest version of each no-pk row
        self.staging: list[tuple] = []
        self.quarantine: list[tuple] = []

    def _row(self, pk: str, bad: bool = False) -> dict:
        r = self.rng
        day = dt.datetime(2022, 1, 1) + dt.timedelta(
            days=r.randrange(3 * 365), seconds=r.randrange(86400))
        fmt = r.choice(DATE_FORMATS)
        date = day.strftime(fmt)
        cents = r.randrange(-50_000_00, 500_000_00) if r.random() < 0.9 else 0
        money = "" if r.random() < 0.05 else format_money(cents, r.randrange(6))
        if bad:
            if r.random() < 0.5:
                money = r.choice(BAD_MONEY)
            else:
                date = r.choice(BAD_DATES)
        self.next_desc += 1
        return {"pk": pk, "Date": date, "Тип": r.choice(TYPES),
                "Client": r.choice(CLIENTS), "Категория": r.choice(CATEGORIES),
                "Total RUB": money, "Месяц": str(day.month),
                "Год": str(day.year),
                "Описание": f"s{self.seed}-d{self.next_desc}"}

    def _new_rows(self, n: int) -> list[dict]:
        """n new rows: exactly 15% without a pk and BAD_SHARE malformed,
        so every seed gives the pipeline the same amount of work."""
        nopk = set(self.rng.sample(range(n), round(0.15 * n)))
        bad = set(self.rng.sample(range(n), round(BAD_SHARE * n)))
        rows = []
        for i in range(n):
            if i in nopk:
                rows.append(self._row("", i in bad))
            else:
                self.next_pk += 1
                rows.append(self._row(f"r-{self.next_pk}", i in bad))
        return rows

    def _edit(self, row: dict) -> dict:
        out = self._row(row["pk"])
        out["Client"] = row["Client"]
        return out

    def _offer(self, rows: list[dict]) -> dict:
        """Fold an offered batch into the expected state; return values."""
        for row in rows:
            pk = row["pk"]
            if pk:
                if pk in self.raw_pks:
                    continue  # insert-if-absent: the edit never reaches raw
                self.raw_pks.add(pk)
            else:
                self.nopk_live.append(row)
            failed = []
            try:
                date = parse_date(row["Date"])
            except ValueError:
                failed.append("date")
            try:
                money = parse_money(row["Total RUB"])
            except ValueError:
                failed.append("total_rub")
            if failed:
                self.quarantine.append((pk or "<auto>", row["Тип"], row["Client"],
                                        row["Категория"], ",".join(failed)))
            else:
                self.staging.append(expected_tuple(pk, row, date, money))
        return {"values": [HEADER] + [[row[h] for h in HEADER] for row in rows]}

    def base(self) -> dict:
        return self._offer(self._new_rows(self.base_rows))

    def batch(self, new_rows: int, nopk_edits: int, pk_edits: int) -> dict:
        """One delta: new rows, edits of pk-less rows, edits of pk rows."""
        rows = self._new_rows(new_rows)
        for i in self.rng.sample(range(len(self.nopk_live)), nopk_edits):
            edited = self._edit(self.nopk_live[i])
            self.nopk_live[i] = edited
            rows.append(edited)
        pks = sorted(self.raw_pks, key=lambda p: int(p[2:]))
        rows += [self._edit({"pk": p, "Client": ""})
                 for p in self.rng.sample(pks, pk_edits)]
        self.rng.shuffle(rows)
        return self._offer(rows)


def expected_tuple(pk: str, row: dict, date: str | None, money: Decimal | None) -> tuple:
    """The staging columns checked, in a form both sides render alike."""
    return (pk or "<auto>", date, row["Тип"], row["Client"], row["Категория"],
            None if money is None else str(money), int(row["Месяц"]), int(row["Год"]))
