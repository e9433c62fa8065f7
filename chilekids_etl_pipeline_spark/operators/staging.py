"""Full staging-record normalization: JSON payload → 45 typed columns.

This is the Spark form of the reference's normalize_record
(src/transform.py:123-197) + StagingRecord schema (src/models.py,
configs/schema.sql staging.records): every business column is extracted
from the raw payload by trying its known header variants in order
(English, Russian, snake_case — transform.py's ``_get``), then parsed with
the type-appropriate normalizer (money / int / multi-format timestamp).

All of it is one wide Project of column expressions — a single codegen
stage over the payload column, no Python, no per-row dict handling.

Key-variant semantics mirror the reference's ``_get`` exactly
(src/transform.py:108-115): every exact header variant is probed in
order first; if none hit, the payload's *arbitrary* keys are
lowercase/space-strip normalized (last key wins on collision — the
reference's dict comprehension) and the normalized variant names are
probed against that map. A sheet with a novel-cased header ("DATE",
"Total rub ") therefore normalizes here just as it does in the
reference, without enumerating the casing up front.

Row-level validation: beyond ``financial_missing_total``
(transform.py:190-196), ``parse_failed_cols`` lists every typed column
whose raw payload value was present but failed its money/int/timestamp
parse — the flag-column form of the reference's pydantic rejection
(transform.py:185-187), so malformed rows can be routed/quarantined
instead of silently nulling out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.normalize import (
    cleaned_parts_sql,
    int_from_decimal_sql,
    money_from_parts_sql,
    ts_sql_spark,
)

# (column, type, header variants) — mirror of transform.py:131-183
STAGING_COLUMNS: list[tuple[str, str, list[str]]] = [
    ("date", "ts", ["Date", "Дата", "date"]),
    ("payment_date", "ts", ["Payment date", "Payment Date", "Дата платежа", "payment_date"]),
    ("payment_date_orig", "ts", ["Payment date (orig)", "Дата платежа (ориг)", "payment_date_orig"]),
    ("task", "str", ["Task", "Задача", "task"]),
    ("type", "str", ["Type", "Тип", "type"]),
    ("client", "str", ["Client", "Клиент", "client"]),
    ("vendor", "str", ["Vendor", "Поставщик", "vendor"]),
    ("cashier", "str", ["Cashier", "Кассир", "cashier"]),
    ("service", "str", ["Service", "Услуга", "service"]),
    ("approver", "str", ["Approver", "Утверждающий", "approver"]),
    ("category", "str", ["Category", "Категория", "category"]),
    ("currency", "str", ["Currency", "Валюта", "currency"]),
    ("subcategory", "str", ["Subcategory", "Подкатегория", "subcategory"]),
    ("description", "str", ["Description", "Описание", "description"]),
    ("direct_indirect", "str", ["Direct/Indirect", "Прямые/Косвенные", "direct_indirect"]),
    ("cat_new", "str", ["cat_new", "Категория новая"]),
    ("cat_final", "str", ["cat_final", "Категория финал"]),
    ("subcat_new", "str", ["subcat_new", "Подкатегория новая"]),
    ("subcat_final", "str", ["subcat_final", "Подкатегория финал"]),
    ("kategoriya", "str", ["kategoriya", "Категория"]),
    ("podstatya", "str", ["podstatya", "Подстатья"]),
    ("statya", "str", ["statya", "Статья"]),
    ("vidy_raskhodov", "str", ["vidy_raskhodov", "Виды расходов"]),
    ("paket", "str", ["paket", "Пакет", "package"]),
    ("package_secondary", "str", ["package_secondary", "package secondary", "Пакет вторичный"]),
    ("year", "int", ["Year", "Год", "year"]),
    ("month", "int", ["Month", "Месяц", "month"]),
    ("quarter", "int", ["Quarter", "Квартал", "quarter"]),
    ("count_vendor", "int", ["Count vendor", "Количество поставщиков", "count_vendor"]),
    ("hours", "money", ["Hours", "Часы", "hours"]),
    ("fx_rub", "money", ["FX RUB", "Курс РУБ", "fx_rub"]),
    ("fx_usd", "money", ["FX USD", "Курс USD", "fx_usd"]),
    ("total_rub", "money", ["Total RUB", "РУБ сумма", "total_rub", "rub_summa", "РУБ Сумма"]),
    ("total_usd", "money", ["Total USD", "USD сумма", "total_usd", "usd_summa"]),
    ("sum_total_rub", "money", ["sum Total RUB", "Сумма РУБ", "sum_total_rub"]),
    ("total_in_currency", "money", ["Total in currency", "Сумма в валюте", "total_in_currency"]),
    ("rub_summa", "money", ["rub_summa", "РУБ Сумма"]),
    ("usd_summa", "money", ["usd_summa", "USD Сумма"]),
    ("created_at", "ts", ["created_at"]),
    ("updated_at", "ts", ["updated_at"]),
    ("updated_by", "str", ["updated_by"]),
]

FINANCIAL_TYPES = ("Доход", "Расход", "Income", "Expense")


def norm_variants(variants: list[str]) -> list[str]:
    """Normalized (lower, space-stripped) variant keys, deduped in order —
    the probe order of the reference's ``_get`` fallback loop."""
    out: list[str] = []
    for v in variants:
        nk = v.lower().replace(" ", "")
        if nk not in out:
            out.append(nk)
    return out


def extract_raw_sql(payload_col: str, variants: list[str], dialect: str = "spark") -> str:
    """Dialect-portable raw-string extraction for one staging column:
    exact variants in order, then the normalized-arbitrary-key fallback
    (transform.py:108-115). Last payload key wins a normalized collision.
    """
    if dialect == "spark":
        probes = [f"get_json_object({payload_col}, '$.{v}')" for v in variants]
        for nk in norm_variants(variants):
            probes.append(
                f"try_element_at(transform_keys(from_json({payload_col}, "
                f"'map<string,string>'), (k, v) -> lower(replace(k, ' ', ''))), '{nk}')"
            )
    else:
        probes = [f"json_extract_string({payload_col}, '$.\"{v}\"')" for v in variants]
        for nk in norm_variants(variants):
            key = (
                f"list_filter(json_keys({payload_col}), "
                f"k -> lower(replace(k, ' ', '')) = '{nk}')[-1]"
            )
            probes.append(
                f"json_extract_string({payload_col}, '$.\"' || {key} || '\"')"
            )
    return f"coalesce({', '.join(probes)})"


def _q(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def normalize_staging(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Payload-JSON column → the full typed staging.records column set.

    Staged for codegen economics, not elegance: the payload is JSON-parsed
    exactly ONCE per row (``from_json`` → struct), because the naive form —
    ``get_json_object`` inside every parser template — re-parses the
    payload at every occurrence of the extracted string inside the
    money/int/timestamp CASE trees (conditional branches defeat codegen
    subexpression elimination), which measured ~70x slower at sf0.1.
    Key-variant lookup is then a coalesce of cheap field probes, staged in
    its own projection so the typed parsers reference a plain attribute.

    Each stage is emitted as SQL text through ONE ``selectExpr``: building
    the same projections from ``F.expr``/``F.col``/``.alias`` Column objects
    costs a py4j round trip per call — about 4,000 per build, which made
    building the plan cost more than running it on a small delta.

    Adds ``financial_missing_total`` — the reference's validation warning
    (transform.py:190-196: financial type but no Total RUB) as a flag
    column instead of a log line, so downstream can route/alert on it.
    """
    base = [_q(c) for c in df.columns]
    # All distinct header variants as ONE struct schema: from_json parses the
    # payload against typed fields and extraction is O(1) ordinal access.
    # (A map<string,string> + element_at per variant measured 37x slower at
    # sf0.1 — per-key map probing of JSON-built maps degenerates badly; the
    # struct schema also documents the full header surface in one place.)
    keys: list[str] = []
    for _name, _typ, variants in STAGING_COLUMNS:
        for v in variants:
            if v not in keys:
                keys.append(v)
    schema = ", ".join(f"`{k}`:string" for k in keys)
    # __nm: the reference's normalized-arbitrary-key lookup
    # ({k.lower().replace(' ',''): v}, transform.py:112) as a second map-typed
    # parse of the same payload — GATED on the payload actually carrying a
    # key outside the enumerated header set (__need, one cheap keys-only
    # parse). Well-formed rows (every key an enumerated variant) skip the
    # map parse entirely; cross-column normalized aliases among ENUMERATED
    # keys (e.g. total_rub's "РУБ сумма" resolving rub_summa) are handled
    # by static alias probes on the already-parsed struct below, so gating
    # loses no _get parity. mapKeyDedupPolicy=LAST_WIN (session.py) gives
    # the dict-comprehension last-wins on normalized collisions.
    #
    # Known divergence vs the reference's _get (documented, tested nowhere
    # hot): a payload key with a JSON null value counts as PRESENT for
    # _get's exact probe (returning None) but falls through our coalesce to
    # the normalized fallback. Sheet-sourced payloads serialize empty cells
    # as "" (sources/sheets.py), never null, so the case cannot arise from
    # the supported sources; the DuckDB oracle (extract_raw_sql) states the
    # same fall-through semantics, so both engines always agree.
    key_list = ", ".join(f"'{k}'" for k in keys)
    payload = _q(payload_col)
    parsed = df.selectExpr(
        "*",
        f"from_json({payload}, 'struct<{schema}>') AS __s",
        f"CASE WHEN size(array_except(json_object_keys({payload}), "
        f"array({key_list}))) > 0 "
        f"THEN transform_keys(from_json({payload}, 'map<string,string>'), "
        "(k, v) -> lower(replace(k, ' ', ''))) END AS __nm",
    )

    # Static cross-column aliases: enumerated keys (already struct fields)
    # whose normalized form matches one of THIS column's normalized
    # variants without being one of its exact variants. Probing them from
    # the struct keeps the gated fast path exactly _get-equivalent when the
    # payload has no novel keys.
    def _aliases(variants: list[str], nk: str) -> list[str]:
        return [
            k for k in keys
            if k not in variants and k.lower().replace(" ", "") == nk
        ]

    # stage 1: first-present header variant per staging column
    # (exact variants in order, then per normalized variant: the gated
    # arbitrary-key fallback, then the static enumerated aliases — _get
    # parity in both the novel-key and the known-alias case)
    raws: list[str] = []
    for name, _typ, variants in STAGING_COLUMNS:
        probes = [f"__s.`{v}`" for v in variants]
        for nk in norm_variants(variants):
            probes.append(f"try_element_at(__nm, '{nk}')")
            probes += [f"__s.`{k}`" for k in _aliases(variants, nk)]
        raws.append(f"coalesce({', '.join(probes)}) AS __r_{name}")
    stage1 = parsed.selectExpr(*base, *raws)

    # stage 2: cleaned parts for every numeric column (reused ~12x below)
    numeric = [n for n, t, _ in STAGING_COLUMNS if t in ("money", "int")]
    raw_refs = [f"__r_{n}" for n, _t, _ in STAGING_COLUMNS]
    parts = list(raw_refs)
    for name in numeric:
        neg, s2 = cleaned_parts_sql(f"__r_{name}")
        parts += [f"{neg} AS __neg_{name}", f"{s2} AS __s2_{name}"]
    stage2 = stage1.selectExpr(*base, *parts)

    # stage 3: decimal parse from parts
    decs = raw_refs + [
        money_from_parts_sql(f"__r_{n}", f"__neg_{n}", f"__s2_{n}") + f" AS __dec_{n}"
        for n in numeric
    ]
    stage3 = stage2.selectExpr(*base, *decs)

    # stage 4: final typed projection, timestamps parsed here (raw strings
    # of typed cols kept for the validation stage below)
    typed = list(base)
    raws_kept: list[str] = []
    for name, typ, _variants in STAGING_COLUMNS:
        if typ == "str":
            typed.append(f"__r_{name} AS {_q(name)}")
            continue
        if typ == "money":
            typed.append(f"__dec_{name} AS {_q(name)}")
        elif typ == "int":
            typed.append(f"{int_from_decimal_sql(f'__dec_{name}')} AS {_q(name)}")
        else:
            typed.append(f"{ts_sql_spark(f'__r_{name}')} AS {_q(name)}")
        raws_kept.append(f"__r_{name}")
    # financial_missing_total here, on the raw/decimal attributes that
    # `type`/`total_rub` alias, rather than in stage 5: the cheap flag then
    # collapses into this projection and the optimized plan matches the
    # Column-built form's exactly.
    fin = ", ".join(f"'{t}'" for t in FINANCIAL_TYPES)
    stage4 = stage3.selectExpr(
        *typed, *raws_kept,
        f"(__r_type IN ({fin})) AND (__dec_total_rub IS NULL) AS financial_missing_total",
    )

    # stage 5: row-level validation — the pydantic-rejection analog
    # (transform.py:185-187) as data: a typed column whose raw value was
    # present but parsed to NULL is a type violation; its name is recorded
    # in parse_failed_cols (comma-joined; '' = clean row) so downstream can
    # quarantine instead of silently ingesting nulls.
    flags = [
        f"CASE WHEN __r_{name} IS NOT NULL AND trim(__r_{name}) <> '' "
        f"AND {name} IS NULL THEN '{name}' END"
        for name, typ, _variants in STAGING_COLUMNS
        if typ != "str"
    ]
    failed = (
        f"concat_ws(',', filter(array({', '.join(flags)}), x -> x IS NOT NULL))"
    )
    return stage4.selectExpr(
        *base,
        *(_q(name) for name, _t, _v in STAGING_COLUMNS),
        "financial_missing_total",
        f"{failed} AS parse_failed_cols",
    )
