"""The reference's REAL dimension data, materialized as fixtures
(round-1 verdict item 5): until now the dim-lookup operators were only
shape-checked against TPC-H ``nation``/``region`` analogs; these tables
make them actual reference-data parity checks.

Sources (public reference repo, data-as-data — no code copied):
- STATES: the 3-state selector (App.js:10-14).
- UI_COUNTIES: the full 107-county picker (App.js:16-130) — 95 TN +
  6 GA + 6 VA — **including the reference's own data-quality bug, the
  'Bristill City, VA' typo row (App.js:123)**, preserved deliberately:
  a data engine must carry source data verbatim, typos included.
- CRS_CODES: the legacy bot's county→CRS-code map
  (crs_bot.cpython-314.pyc module constants; 7 supported counties).
  The UI offers 107 counties but the backend can only enrich 7 — that
  UI-vs-backend diff IS the reference's A8 data-quality check.

The same Python literals feed BOTH the Spark DataFrames and the DuckDB
oracle SQL (``*_values_sql``), so the driver's correctness gate checks
real value parity, not just shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_property_data_ingestion_document_pipeline_spark.catalog import local_frame

# App.js:10-14
STATES: list[tuple[str, str]] = [
    ("TN", "Tennessee"),
    ("GA", "Georgia"),
    ("VA", "Virginia"),
]

_TN = [
    "Anderson", "Bedford", "Benton", "Bledsoe", "Blount", "Bradley",
    "Campbell", "Cannon", "Carroll", "Carter", "Cheatham", "Chester",
    "Claiborne", "Clay", "Cocke", "Coffee", "Crockett", "Cumberland",
    "Davidson", "Decatur", "Dekalb", "Dickson", "Dyer", "Fayette",
    "Fentress", "Franklin", "Gibson", "Giles", "Grainger", "Greene",
    "Grundy", "Hamblen", "Hamilton", "Hancock", "Hardeman", "Hardin",
    "Hawkins", "Haywood", "Henderson", "Henry", "Hickman", "Houston",
    "Humphreys", "Jackson", "Jefferson", "Johnson", "Knox", "Lake",
    "Lauderdale", "Lawrence", "Lewis", "Lincoln", "Loudon", "Macon",
    "Madison", "Marion", "Marshall", "Maury", "McMinn", "McNairy",
    "Meigs", "Monroe", "Montgomery", "Moore", "Morgan", "Obion",
    "Overton", "Perry", "Pickett", "Polk", "Putnam", "Rhea", "Roane",
    "Robertson", "Rutherford", "Scott", "Sequatchie", "Sevier",
    "Shelby", "Smith", "Stewart", "Sullivan", "Sumner", "Tipton",
    "Trousdale", "Unicoi", "Union", "Van Buren", "Warren",
    "Washington", "Wayne", "Weakley", "White", "Williamson", "Wilson",
]

_GA = ["Catoosa", "Chattooga", "Dade", "Murray", "Walker", "Whitfield"]

# App.js:122-129 — first entry is the reference's typo row (App.js:123):
# 'Bristill City, VA' (sic, for Bristol City); preserved verbatim.
_VA_ROWS = [
    "Bristill City, VA",
    "Lee County, VA",
    "Scott County, VA",
    "Smyth County, VA",
    "Washington County, VA",
    "Wise County, VA",
]

# (county_name, state_code) — 95 TN + 6 GA + 6 VA = 107 (App.js:16-130)
UI_COUNTIES: list[tuple[str, str]] = (
    [(f"{c} County, TN", "TN") for c in _TN]
    + [(f"{c} County, GA", "GA") for c in _GA]
    + [(c, "VA") for c in _VA_ROWS]
)

# crs_bot.cpython-314.pyc module constants: the only 7 counties the
# legacy enrichment bot actually supports.
CRS_CODES: list[tuple[str, str]] = [
    ("Shelby County, TN", "TN157"),
    ("Tipton County, TN", "TN167"),
    ("Knox County, TN", "TN093"),
    ("Lee County, VA", "VA105"),
    ("Wise County, VA", "VA195"),
    ("Walker County, GA", "GA295"),
    ("Whitfield County, GA", "GA313"),
]


def states_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, STATES, "state_code string, state_label string")


def counties_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, UI_COUNTIES, "county_name string, state_code string")


def crs_codes_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, CRS_CODES, "county_name string, crs_code string")


def _values_sql(rows: list[tuple[str, str]], alias: str, cols: tuple[str, str]) -> str:
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    values = ", ".join(f"({q(a)}, {q(b)})" for a, b in rows)
    return f"(VALUES {values}) AS {alias}({cols[0]}, {cols[1]})"


def states_values_sql() -> str:
    return _values_sql(STATES, "s", ("state_code", "state_label"))


def counties_values_sql() -> str:
    return _values_sql(UI_COUNTIES, "c", ("county_name", "state_code"))


def crs_codes_values_sql() -> str:
    return _values_sql(CRS_CODES, "k", ("county_name", "crs_code"))
