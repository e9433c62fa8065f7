"""Sheets-style tabular ingestion: values payload → typed raw DataFrame.

Mirrors the reference's Google Sheets extract semantics
(src/sheets.py:16-60, main.py:166-217) without the network dependency:

- a "values" payload is a list of rows, first row = headers (the API's
  ``{"values": [[...], ...]}`` shape);
- rows are padded to the header width (the A:AF range always returns
  ragged rows for trailing blanks);
- blank rows are dropped;
- an explicit primary key is detected case-insensitively among
  ``pk / id / row_id / uuid``; otherwise a deterministic fallback id is
  derived from the row content hash + row number;
- every record carries its canonical payload hash for downstream
  incremental processing.

The actual HTTP fetch is out of scope for this engine (no network in the
runtime); ``fetch_google_sheets`` is a stub with the reference's signature
so callers can wire a real client in.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ID_KEY_CANDIDATES = ("pk", "id", "row_id", "uuid")

# The raw layer's columns, as ``raw_rows_to_df`` writes them. Readers of a
# raw directory pass this schema instead of inferring it from the files.
RAW_COLS = ("id", "source", "payload", "payload_hash")
RAW_SCHEMA = "id string, source string, payload string, payload_hash string, extracted_at timestamp"


def values_to_records(values: list[list[Any]]) -> list[dict[str, Any]]:
    """Header row + data rows → list of dicts, padded and blank-filtered."""
    if not values:
        return []
    headers = [str(h).strip() for h in values[0]]
    records = []
    for row in values[1:]:
        if not any(str(c).strip() for c in row):
            continue
        padded = list(row) + [""] * (len(headers) - len(row))
        records.append({h: padded[i] for i, h in enumerate(headers) if h})
    return records


def detect_id_key(record: dict[str, Any]) -> str | None:
    keys_norm = {k.lower().strip(): k for k in record}
    for cand in ID_KEY_CANDIDATES:
        if cand in keys_norm:
            return keys_norm[cand]
    return None


def records_to_raw_df(spark: SparkSession, records: list[dict[str, Any]], source: str = "sheets") -> DataFrame:
    """Records → raw-layer DataFrame (id, source, payload json, payload_hash,
    extracted_at)."""
    return raw_rows_to_df(spark, records_to_raw_rows(records, source))


def string_columns_to_df(spark: SparkSession, names: tuple[str, ...], rows: list[tuple[str, ...]]) -> DataFrame:
    """Driver-side rows of strings → DataFrame of nullable string columns.

    Built as a pyarrow Table: Spark takes it in Arrow batches instead of
    pickling every row through the Python RDD path (measured on 4 cores,
    460 sheet rows, created and counted in a warm session: 0.18-0.21 s
    against 0.54-0.74 s)."""
    import pyarrow as pa

    columns = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, pa.string()) for c in columns],
        schema=pa.schema([(n, pa.string()) for n in names]),
    ))


def raw_rows_to_df(spark: SparkSession, rows: list[tuple[str, str, str, str]]) -> DataFrame:
    """``records_to_raw_rows`` output → raw-layer DataFrame (``RAW_SCHEMA``),
    stamped with extraction time."""
    df = string_columns_to_df(spark, RAW_COLS, rows)
    return df.withColumn("extracted_at", F.current_timestamp())


def records_to_raw_rows(records: list[dict[str, Any]], source: str = "sheets") -> list[tuple[str, str, str, str]]:
    """Records → raw-layer rows ``(id, source, payload json, payload_hash)``.

    Hashing runs driver-side here because the payload is already local (a
    sheet is small); the distributed path for bulk data is
    ``operators.incremental.with_payload_hash`` over a payload column.
    """
    rows = []
    for i, rec in enumerate(records):
        payload_str = json.dumps(rec, ensure_ascii=False, sort_keys=True, separators=(",", ":"))
        h = hashlib.md5(payload_str.encode()).hexdigest()
        id_key = detect_id_key(rec)
        if id_key and str(rec[id_key]).strip():
            raw_id = str(rec[id_key]).strip()
        else:
            raw_id = f"sheet_auto_{h[:12]}_{i}"
        rows.append((raw_id, source, payload_str, h))
    return rows


def load_sheet_values(spark: SparkSession, path: str, source: str = "sheets") -> DataFrame:
    """Read a local JSON file in the Sheets API response shape."""
    with open(path) as f:
        data = json.load(f)
    return records_to_raw_df(spark, values_to_records(data.get("values", [])), source)


def df_to_sheet_values(df: DataFrame, max_rows: int = 100_000) -> dict[str, Any]:
    """DataFrame → Sheets API values payload (src/sheets.py:71 analog).

    The export direction: header row followed by stringified data rows,
    ready for a ``spreadsheets.values.update`` body. Guarded collect —
    sheets are small by nature; exporting big data through this path is a
    mistake the guard turns into an explicit error instead of a driver OOM.
    """
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"refusing to export {n} rows to a sheet (limit {max_rows}); "
            "write parquet via sources.sinks instead"
        )
    cols = df.columns
    str_df = df.select([F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in cols])
    return {"values": [cols] + [[row[c] for c in cols] for row in str_df.collect()]}


SHEET_TZ = "Asia/Yekaterinburg"  # the reference deployment's sheet zone


def change_stamp_to_utc(col, tz: str = SHEET_TZ):
    """Sheet-side change stamp → UTC timestamp.

    Closes the loop on where ``extracted_at``/``updated_by`` come FROM:
    the reference stamps them client-side on every edit
    (gas/last_change.gs — column U ``last_change`` as a LOCAL-time
    ``dd.MM.yyyy HH:mm:ss`` string in Asia/Yekaterinburg, column V
    ``changed_by`` as the editor's email). The ELT's incremental ordering
    (``ORDER BY extracted_at, id`` — transform.py:233) therefore depends
    on converting that local string back to an instant: this expression
    is that conversion, and the engine-side contract is that any sheet
    row WITHOUT a stamp gets extraction time (records_to_raw_df stamps
    ``current_timestamp``), so ordering never sees a null.
    """
    return F.to_utc_timestamp(F.to_timestamp(col, "dd.MM.yyyy HH:mm:ss"), tz)


def assign_pks(
    df: DataFrame,
    pk_col: str = "pk",
    required_cols: tuple[str, ...] = (),
    prefix: str = "sa",
    pad: int = 6,
) -> DataFrame:
    """The pk_master.gs analog: fill MISSING primary keys with
    ``{prefix}_{N:0{pad}d}``, continuing after the highest existing
    numeric suffix; rows whose required columns are blank stay keyless;
    existing keys are never touched (CFG.force=false semantics).

    A sheet is driver-scale by nature, but the expression stays
    distributed anyway: one 1-row aggregate for the continuation counter
    + a deterministic row_number over the content hash for new keys.
    """
    from pyspark.sql import Window

    has_pk = F.col(pk_col).isNotNull() & (F.trim(F.col(pk_col)) != "")
    eligible = F.lit(True)
    for c in required_cols:
        eligible = eligible & F.col(c).isNotNull() & (F.trim(F.col(c).cast("string")) != "")
    suffix = F.regexp_extract(F.col(pk_col), f"^{prefix}_([0-9]+)$", 1)
    start = (
        df.select(F.max(F.when(suffix != "", suffix.cast("long"))).alias("mx"))
        .first()[0]
        or 0
    )
    needs = (~has_pk) & eligible
    # number only the rows that need a key (partition on the flag), so new
    # keys are consecutive after the continuation point, like the script's
    w = Window.partitionBy(needs).orderBy(F.md5(F.to_json(F.struct(*df.columns))))
    rn = F.row_number().over(w)
    new_pk = F.concat(F.lit(prefix + "_"), F.lpad((F.lit(start) + rn).cast("string"), pad, "0"))
    return df.withColumn(
        pk_col,
        F.when(has_pk, F.col(pk_col)).when(eligible, new_pk).otherwise(F.lit(None)),
    )


# --- SheetService.gs identity edition --------------------------------------
#
# The reference's second sheet-side script (gas/SheetService.gs:1-156)
# maintains a UUID primary key + created_at/updated_at/updated_by audit
# columns: onEdit stamps every touched row and auto-keys new rows;
# runIdentityAssignment bulk-fills UUIDs for legacy rows. These are the
# same semantics as pure, idempotent DataFrame transforms. One deliberate
# difference: GAS mints RANDOM UUIDs (Utilities.getUuid); the engine-side
# analog derives the UUID from the row's content hash, so re-running the
# assignment is deterministic and testable — the shape (8-4-4-4-12,
# version/variant nibbles forced) matches what downstream key validators
# expect of a v4 UUID.

GS_META_COLS = ("PK", "created_at", "updated_at", "updated_by",
                "content_hash")  # SheetService.gs CFG headers


def _uuid_from_md5(h):
    """32-hex md5 → UUID-v4-shaped string (version nibble 4, variant 8)."""
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("4"), F.substring(h, 14, 3)),
        F.concat(F.lit("8"), F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def row_content_hash(df: DataFrame, exclude: tuple[str, ...] = GS_META_COLS):
    """CFG.hashHeader semantics: md5 over the row's DATA columns (meta
    columns excluded, names sorted so column order can't flip the hash)."""
    data_cols = sorted(c for c in df.columns if c not in exclude)
    return F.md5(F.to_json(F.struct(*[
        F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c)
        for c in data_cols
    ])))


def assign_identity(
    df: DataFrame,
    pk_col: str = "PK",
    created_col: str = "created_at",
    now: str = "",
    required_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``runIdentityAssignment`` (SheetService.gs:95-150): fill MISSING
    primary keys with a UUID, stamping ``created_at`` (when that column
    exists) only on newly keyed rows; existing keys and their created
    stamps are never touched. Rows failing the required-column fill check
    stay keyless, like the onEdit validation gate. Raises when the PK
    column is absent — the script alerts '"PK" не найдена'."""
    if pk_col not in df.columns:
        raise KeyError(f"column {pk_col!r} not found")
    has_pk = F.col(pk_col).isNotNull() & (F.trim(F.col(pk_col)) != "")
    eligible = F.lit(True)
    for c in required_cols:
        eligible = eligible & F.col(c).isNotNull() & (
            F.trim(F.col(c).cast("string")) != ""
        )
    new_key = _uuid_from_md5(row_content_hash(df, GS_META_COLS))
    # created_at FIRST: has_pk reads the PK column by name, so stamping
    # after the key fill would see every row as already keyed
    out = df
    if created_col in df.columns:
        out = out.withColumn(
            created_col,
            F.when(has_pk | ~eligible, F.col(created_col)).otherwise(
                F.lit(now)
            ),
        )
    return out.withColumn(
        pk_col,
        F.when(has_pk, F.col(pk_col))
        .when(eligible, new_key)
        .otherwise(F.col(pk_col)),
    )


def stamp_edit_metadata(
    df: DataFrame,
    edited,
    editor: str = "anonymous",
    now: str = "",
    pk_col: str = "PK",
    created_col: str = "created_at",
    updated_col: str = "updated_at",
    updated_by_col: str = "updated_by",
    hash_col: str = "content_hash",
) -> DataFrame:
    """``onEdit`` (SheetService.gs:40-90) as a pure transform over the
    edited-row predicate: touched rows get ``updated_at``/``updated_by``
    (and a refreshed ``content_hash`` when that column exists); a touched
    row with no PK is auto-keyed and ``created_at``-stamped. A frame
    without the updated_at column returns UNCHANGED — the script's
    'no tracking column → exit' early return. ``edited`` is a boolean
    Column (the range the edit event covered); ``editor`` defaults to
    the script's anonymous fallback for e-mail-less sessions."""
    if updated_col not in df.columns:
        return df
    out = df.withColumn(
        updated_col,
        F.when(edited, F.lit(now)).otherwise(F.col(updated_col)),
    )
    if updated_by_col in df.columns:
        out = out.withColumn(
            updated_by_col,
            F.when(edited, F.lit(editor)).otherwise(F.col(updated_by_col)),
        )
    if pk_col in df.columns:
        has_pk = F.col(pk_col).isNotNull() & (F.trim(F.col(pk_col)) != "")
        new_key = _uuid_from_md5(row_content_hash(df, GS_META_COLS))
        # created_at BEFORE the key fill: has_pk reads the PK column by
        # name and would see the freshly minted key otherwise
        if created_col in df.columns:
            out = out.withColumn(
                created_col,
                F.when(edited & ~has_pk, F.lit(now)).otherwise(
                    F.col(created_col)
                ),
            )
        out = out.withColumn(
            pk_col,
            F.when(edited & ~has_pk, new_key).otherwise(F.col(pk_col)),
        )
    if hash_col in df.columns:
        out = out.withColumn(
            hash_col,
            F.when(edited, row_content_hash(df, GS_META_COLS)).otherwise(
                F.col(hash_col)
            ),
        )
    return out


# --- live fetch seam -------------------------------------------------------
#
# The reference's fetch (src/sheets.py:16-70) is aiohttp + tenacity
# @retry(stop_after_attempt(5), wait_exponential(multiplier=1, min=4,
# max=10)) with the access token resolved INSIDE the retried function —
# so every retry re-authenticates (db.py:132-140 mints a fresh
# service-account token per call). This runtime has no network, so the
# transport is injectable: the retry / backoff / auth-refresh / header-
# shaping logic is all here and tested offline against a fake transport;
# a deployment passes a requests/aiohttp-backed callable.

SHEETS_EXPECTED_COLS = 32  # the A:AF range → 32 columns (src/sheets.py:43)


@dataclass(frozen=True)
class FetchPolicy:
    """tenacity parity: stop_after_attempt(5),
    wait_exponential(multiplier=1, min=4, max=10)."""

    max_attempts: int = 5
    backoff_multiplier: float = 1.0
    backoff_min: float = 4.0
    backoff_max: float = 10.0

    def delay(self, retry_number: int) -> float:
        """Seconds to wait before retry #retry_number (1-based), per
        tenacity's wait_exponential: multiplier * 2^attempt_number,
        clamped to [min, max] — so attempts 1.. wait 4, 4, 8, 10, 10…
        (reaching the 10 s cap on the 4th retry, exactly tenacity's
        schedule for multiplier=1, min=4, max=10)."""
        raw = self.backoff_multiplier * (2**retry_number)
        return max(self.backoff_min, min(self.backoff_max, raw))


def api_values_to_records(
    values: list[list[Any]], expected_col_count: int = SHEETS_EXPECTED_COLS
) -> list[dict[str, Any]]:
    """The reference's response shaping (src/sheets.py:40-53): pad the
    header row with Column_{i+1} names up to the range width, truncate
    extras, pad each data row with '' to the header width. A data row
    WIDER than the padded header raises, matching the reference's
    ``dict(zip(..., strict=True))`` — a malformed row errors loudly
    instead of silently dropping its tail."""
    if not values:
        return []
    raw_headers = list(values[0])
    if len(raw_headers) < expected_col_count:
        raw_headers += [
            f"Column_{i + 1}"
            for i in range(len(raw_headers), expected_col_count)
        ]
    elif len(raw_headers) > expected_col_count:
        raw_headers = raw_headers[:expected_col_count]
    out = []
    for i, r in enumerate(values[1:], start=2):
        if len(r) > len(raw_headers):
            raise ValueError(
                f"sheet row {i} has {len(r)} cells, wider than the "
                f"{len(raw_headers)}-column header (strict zip parity "
                "with src/sheets.py:53)"
            )
        out.append(dict(zip(raw_headers, r + [""] * (len(raw_headers) - len(r)))))
    return out


def fetch_sheet_values(
    spreadsheet_id: str,
    range_name: str = "Sheet1!A:AF",
    *,
    transport: Callable[[str, dict | None, dict | None], dict],
    token_provider: Callable[[], str | None] | None = None,
    api_key: str | None = None,
    policy: FetchPolicy = FetchPolicy(),
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict[str, Any]]:
    """Fetch a sheet range with the reference's retry semantics.

    transport(url, headers, params) → decoded JSON dict (raise on
    transport failure). Auth resolution per attempt (src/sheets.py:17-28):
    bearer token when token_provider yields one — called INSIDE the
    retry loop, so each attempt gets a refreshed token — else api_key
    param, else no-auth → [] (the reference logs and returns []).
    A transport exception retries with exponential backoff until
    max_attempts, then re-raises (tenacity reraise behavior); a JSON
    body without "values" is an empty sheet, not an error."""
    url = (
        f"https://sheets.googleapis.com/v4/spreadsheets/"
        f"{spreadsheet_id}/values/{range_name}"
    )
    for attempt in range(1, policy.max_attempts + 1):
        headers = params = None
        try:
            # token minting sits INSIDE the retried block, like the
            # reference's get_google_access_token() call inside the
            # tenacity-wrapped function: a transient auth failure is
            # retried with the same backoff as a transport failure
            token = token_provider() if token_provider is not None else None
            if token:
                headers = {"Authorization": f"Bearer {token}"}
            elif api_key:
                params = {"key": api_key}
            else:
                return []
            data = transport(url, headers, params)
        except Exception:
            if attempt >= policy.max_attempts:
                raise
            sleep(policy.delay(attempt))
            continue
        return api_values_to_records(data.get("values", []))
    return []  # unreachable: loop either returns or re-raises


def fetch_sheet_to_raw_df(
    spark: SparkSession,
    spreadsheet_id: str,
    source: str = "sheets",
    **fetch_kwargs: Any,
) -> DataFrame:
    """fetch_sheet_values + records_to_raw_df: the whole reference
    extract path (fetch → pad/shape → pk-detect → payload-hash) as one
    call, network injected."""
    records = fetch_sheet_values(spreadsheet_id, **fetch_kwargs)
    return records_to_raw_df(spark, records, source)


def push_sheet_values(
    payload: dict[str, Any],
    spreadsheet_id: str,
    sheet_name: str = "Sheet1",
    *,
    transport: Callable[[str, dict, dict], dict],
    token_provider: Callable[[], str | None],
    policy: FetchPolicy = FetchPolicy(),
    sleep: Callable[[float], None] = time.sleep,
) -> dict[str, Any]:
    """Append a values payload back to a sheet (src/sheets.py:71-85
    ``push_df_to_sheet``) with the fetch side's retry contract.

    transport(url, headers, json_body) → decoded JSON dict (raise on
    transport failure). Reference parity points:

    - the append URL is ``{sheet_name}!A1:append?valueInputOption=RAW``;
    - auth is bearer-only — a missing token raises RuntimeError
      immediately (src/sheets.py:74: no api-key fallback for writes);
    - the token is minted INSIDE the retry loop, so each attempt gets a
      refreshed token, same as the fetch side;
    - the body is ``{"values": [...]}`` exactly as serialized by
      ``df_to_sheet_values`` (header row + ''-filled stringified rows).

    The reference's push is unretried (only its fetch carries tenacity);
    this engine applies the same 5-attempt backoff contract to both
    directions — an append interrupted by a transient 5xx replays rather
    than dropping the export. Sheets appends are idempotent only at the
    whole-payload level, which is how the reference uses them (one
    summary append per run)."""
    url = (
        f"https://sheets.googleapis.com/v4/spreadsheets/{spreadsheet_id}"
        f"/values/{sheet_name}!A1:append?valueInputOption=RAW"
    )
    body = {"values": payload["values"]}
    for attempt in range(1, policy.max_attempts + 1):
        try:
            token = token_provider()
            if not token:
                raise RuntimeError(
                    "missing Google access token; sheet append is bearer-only"
                )
            headers = {
                "Authorization": f"Bearer {token}",
                "Content-Type": "application/json",
            }
            return transport(url, headers, body)
        except RuntimeError:
            raise  # auth absence is not transient — fail fast, no retry
        except Exception:
            if attempt >= policy.max_attempts:
                raise
            sleep(policy.delay(attempt))
    raise AssertionError("unreachable")  # pragma: no cover


def push_df_to_sheet(
    df: DataFrame,
    spreadsheet_id: str,
    sheet_name: str = "Sheet1",
    max_rows: int = 100_000,
    **push_kwargs: Any,
) -> dict[str, Any]:
    """df_to_sheet_values + push_sheet_values: the whole reference export
    path (bounded collect → stringify → POST append with retries) as one
    call, network injected."""
    return push_sheet_values(
        df_to_sheet_values(df, max_rows=max_rows),
        spreadsheet_id,
        sheet_name,
        **push_kwargs,
    )


async def fetch_google_sheets(spreadsheet_id: str, range_name: str = "Sheet1!A:AF"):
    """Network fetch stub with the reference's exact signature
    (src/sheets.py:16). Use fetch_sheet_values with an injected
    transport, or load_sheet_values() on an exported JSON payload."""
    raise NotImplementedError(
        "network fetch not available in this runtime; "
        "use fetch_sheet_values(transport=...) or load_sheet_values()"
    )
