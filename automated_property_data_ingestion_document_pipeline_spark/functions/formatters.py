"""Reference formatter semantics as vectorized Column expressions.

Each function pins the EXACT contract of a reference per-record Python/JS
function (file:line cited per function, into /root/reference/). All are
pure ``pyspark.sql.functions`` compositions — whole-stage-codegen'd JVM
expressions, no UDFs — so at 100 TB they cost a projection, not a Python
round-trip. Golden cases in tests/test_formatters.py (FIXTURES.md §B4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def format_currency(col: Column) -> Column:
    """``_format_currency`` (report_generator.py:23-31): float(v) →
    ``$N,NNN.NN``, or ``$N,NNN`` when the value is integral; any parse
    failure → empty string (null-on-failure contract, SURVEY §1.2).
    """
    # + 0.0 normalizes IEEE negative zero: Python's int(-0.0) prints
    # "$0" but format_number(-0.0, 0) would print "$-0" (caught by
    # tests/test_differential.py). No other value changes.
    v = col.try_cast("double") + F.lit(0.0)
    # Engine contract (tests/test_differential.py header): NaN/±inf and
    # |v| ≥ 2^63 are unparseable → '' — without this gate Spark would
    # emit a "$NaN" string (or an int64-overflowing digit string) while
    # the DuckDB oracle's isfinite/magnitude gate yields '' (r02 advice;
    # same shape as the percent formatter's int32 contract).
    v = F.when(~F.isnan(v) & (F.abs(v) < F.lit(float(2**63))), v)
    whole = v == F.floor(v)
    formatted = F.when(whole, F.concat(F.lit("$"), F.format_number(v, 0))).otherwise(
        F.concat(F.lit("$"), F.format_number(v, 2))
    )
    return F.coalesce(formatted, F.lit(""))


def format_percent(col: Column) -> Column:
    """``_format_percent`` (report_generator.py:12-20): int(float(v)) →
    ``NN%`` — TRUNCATES toward zero, does not round (49.9 → "49%");
    failure → empty string. Spark double→int cast truncates identically.
    """
    n = col.try_cast("double").try_cast("int")
    return F.coalesce(F.concat(n.cast("string"), F.lit("%")), F.lit(""))


def format_long_date(col: Column, fallback_date: Column | None = None) -> Column:
    """``_format_date`` (report_generator.py:34-41): ``YYYY-MM-DD`` →
    ``Month DD, YYYY``; malformed input falls back to *today* — a
    nondeterminism we parameterize via ``fallback_date`` (SURVEY §7
    hard-part b); default preserves reference wall-clock semantics.
    """
    if fallback_date is None:
        fallback_date = F.current_date()
    d = F.coalesce(F.try_to_timestamp(col).cast("date"), fallback_date)
    return F.date_format(d, "MMMM dd, yyyy")


def safe_name(col: Column) -> Column:
    """Filename sanitizer (report_generator.py:63; app.py:108-109):
    ``name.replace(" ", "_").replace("/", "_")``."""
    return F.regexp_replace(col, "[ /]", "_")


def clean_scraped_text(col: Column) -> Column:
    """Scraped-text normalize (crs_ui_bot.py:223): NBSP→space then strip —
    order matters: a leading NBSP must become strippable whitespace."""
    return F.trim(F.regexp_replace(col, " ", " "))


def letter_filename(name_col: Column) -> Column:
    """Deterministic artifact name (report_generator.py:64-65):
    ``Engagement_Letter_{safe_name}.pdf``. NULL name → NULL filename
    (concat propagates; format_string would print the string 'null' —
    edge-corpus audit, round 2)."""
    return F.concat(
        F.lit("Engagement_Letter_"), safe_name(name_col), F.lit(".pdf")
    )


def digits_only(col: Column) -> Column:
    """``clampPercentString`` (App.js:226-229): strip every char not
    ``[0-9.]``."""
    return F.regexp_replace(col, "[^0-9.]", "")


def to_number_safe(col: Column) -> Column:
    """``toNumberSafe`` (App.js:231-234): Number(v), non-finite → null."""
    return col.try_cast("double")


def split_extract_last(col: Column) -> Column:
    """Legacy parcel text extract (crs_bot.pyc ~75-95): split on ``:``,
    take last piece, strip."""
    return F.trim(F.element_at(F.split(col, ":"), -1))


def letter_text(
    run_date: Column,
    name: Column,
    address: Column,
    fee: Column,
    due_signing: Column,
    due_completion: Column,
    property_desc: Column,
    parcel_id: Column,
) -> Column:
    """``run_date`` must be a date/timestamp column (deterministic — the
    reference's wall-clock default is the caller's choice, SURVEY §7b).

    Template interpolation (report_generator.py:75-88 +
    templates/template.docx placeholders ``{{date}} {{name}} {{address}}
    {{fee}} {{due_signing}} {{due_completion}}
    {{property_under_appraisal}} {{parcel_id}}``) — the text body of the
    engagement letter as one string column; the DOCX binary wrapper lives
    in sources/doc_sink.py.
    """
    return F.concat(
        F.lit("Date: "), F.date_format(run_date, "MMMM dd, yyyy"),
        F.lit("\nClient: "), F.coalesce(name, F.lit("")),
        F.lit("\nAddress: "), F.coalesce(address, F.lit("")),
        F.lit("\nProperty: "), F.coalesce(property_desc, F.lit("")),
        F.lit("\nParcel ID: "), F.coalesce(parcel_id, F.lit("")),
        F.lit("\nFee: "), format_currency(fee),
        F.lit("\nDue at signing: "), format_percent(due_signing),
        F.lit("\nDue at completion: "), format_percent(due_completion),
    )
