"""Every driver-contract query must return a FLAT frame: the gate
canonicalizer sorts/hashes pandas columns, and array/struct/map cells are
unhashable (the exact failure mode of round 1's extract_pipeline entry).
Schema-only check — no jobs run, so it covers all 54 queries in seconds."""

from pyspark.sql.types import ArrayType, MapType, StructType

from vlm_ocr_doc_reader_spark.contract import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"


def test_every_query_is_flat_and_oracled(spark):
    assert set(QUERIES) == set(ORACLES), (
        "every query needs an oracle (no rows-only entries)")
    bad = []
    for name, fn in QUERIES.items():
        schema = fn(spark, SF).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"nested columns would break the gate canonicalizer: {bad}"


def test_rotation_rule_window_coverage():
    """The institutionalized gate-window rule (contract.py QUERIES note):
    the driver snapshots the FIRST 50 entries, so the union of the last
    two recorded rounds' rows and the current window must cover every
    registry query — nothing ships two rounds on local-only green."""
    import glob
    import json
    import os
    files = sorted(glob.glob(
        os.path.join(os.path.dirname(__file__), "..",
                     "CORRECTNESS_r*.json")))
    if not files:
        return  # fresh clone without driver history
    # last TWO rounds + the upcoming window: stable across the moment the
    # driver writes round N's file but the round-N+1 reorder hasn't
    # happened yet (the window rule guarantees coverage within two rounds,
    # so three consecutive sources must always cover everything)
    recent = set()
    for f in files[-2:]:
        recent |= set(json.load(open(f)))
    window = set(list(QUERIES)[:50])
    uncovered = [q for q in QUERIES if q not in recent and q not in window]
    assert not uncovered, (
        f"queries with no driver row in the last two recorded rounds "
        f"({[os.path.basename(f) for f in files[-2:]]}) and no slot in "
        f"the first-50 window: {uncovered} — reorder QUERIES per the "
        "rotation rule")


def test_no_oracle_emits_hazardous_dtypes():
    """DuckDB DESCRIBE sweep over every oracle: no output column may be
    HUGEINT/UHUGEINT (pandas materializes them as float64, so `78.0` vs
    Spark's bigint `78` fails the driver's strict value hash — the exact
    r4/r5 time_rollup red-row mechanism) or DECIMAL (pandas object dtype,
    stringifies differently from float).  DuckDB types sum(BIGINT) as
    HUGEINT, so every oracle summing a count must CAST back to BIGINT."""
    import duckdb

    con = duckdb.connect()
    tables = ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    bad = []
    for name, sql in ORACLES.items():
        for row in con.execute(f"DESCRIBE {sql}").fetchall():
            col, typ = row[0], row[1]
            t = str(typ).upper()
            if "HUGEINT" in t or t.startswith("DECIMAL"):
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, (
        f"oracle output columns with hash-hazard dtypes (cast them in the "
        f"SQL): {bad}")


def test_gate_tables_free_of_regex_divergent_whitespace():
    """Java regex \\s (Spark operators) matches \\x0B; DuckDB's RE2 \\s
    does not — measured r6, the ONLY code point where the two engines'
    \\s/\\w/\\b/\\d classes differ (\\w, \\b, \\d are identical).  The
    r7 sweep (VERDICT r6 item 3) spelled the Java class out explicitly
    in every WINDOW-entry oracle it owns outright; oracles frozen under
    the rotation rule (r6-green rows) and the shared helpers they embed
    keep bare \\s and are exonerated by THIS pin instead: no string
    column of any gate table at any gate SF contains \\x0B, so the two
    classes cannot diverge on gate data.  A testdata refresh that
    introduces the character fails here, loudly, instead of at the
    driver's value hash.  test_staged_fuzz proves the swept oracles
    stay parity-green even ON \\x0B-bearing text."""
    import duckdb

    con = duckdb.connect()
    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for t in tables:
            cols = [c for c, typ, *_ in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet("
                f"'/root/testdata/{sf}/{t}.parquet')").fetchall()
                if str(typ).upper() == "VARCHAR"]
            if not cols:
                continue
            pred = " OR ".join(
                f"{c} LIKE '%' || chr(11) || '%'" for c in cols)
            n = con.execute(
                f"SELECT count(*) FROM read_parquet("
                f"'/root/testdata/{sf}/{t}.parquet') WHERE {pred}"
            ).fetchone()[0]
            assert n == 0, (
                f"{sf}/{t} contains \\x0B in {n} rows (cols {cols}) — "
                f"bare-\\s frozen oracles would diverge from Spark; "
                f"sweep them to the explicit Java class before "
                f"accepting this data")


def test_gate_embeddings_free_of_nan_inf():
    """Spark sorts NaN GREATEST in ascending struct sorts (so the
    ncos=NaN centroid lands LAST and a real centroid wins); DuckDB
    sorts NaN first under ORDER BY cos DESC (NaN > inf) — so a NaN
    cosine would pick DIFFERENT clusters in semdedup/ivf_topk's twin.
    Like the \\x0B pin: the divergence needs a NaN/Inf embedding value
    to exist, so pin the gate tables clean and fail loudly here on any
    testdata refresh that introduces one."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01"):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet("
            f"'/root/testdata/{sf}/embeddings.parquet') "
            f"WHERE len(list_filter(embedding, "
            f"x -> isnan(x) OR NOT isfinite(x))) > 0").fetchone()[0]
        assert n == 0, (
            f"{sf}/embeddings contains NaN/Inf components in {n} rows — "
            f"NaN ordering diverges between Spark and DuckDB in the "
            f"centroid-assignment oracles")
