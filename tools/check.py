#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read Verify output
parquet per query, run the oracle SQL in DuckDB over the same sf dir,
sort columns by name + rows, compare values (exact for non-floats,
tiny-epsilon report for floats so rounding bugs are visible).

Optional third arg: a path to write a CORRECTNESS_r{N}.json-shaped
report (per-query rows/schema/hash match), so the 10x gate at /tmp/sf1
is a standing artifact (CORRECTNESS_10x.json) instead of judge
archaeology.

Optional further args (VERDICT r18 ask #8): query names to check —
a subset re-check runs only those oracles against the standing dump,
so a targeted big-SF retry of one fixed oracle is one command instead
of a dump-dir copy. In subset mode the report is MERGED into an
existing report file (only the named rows are rewritten) so a partial
re-check never shrinks a standing artifact's coverage.

Crash-proofing (VERDICT r18 ask #2): a DuckDB fatal (temp-directory
exhaustion, OOM abort) invalidates the connection — the r18 12:09 run
died because the NEXT iteration's bare con.close() re-raised outside
any try and the report was never written. Every per-query step is now
individually guarded, a fatal records `err` on that row and reopens the
connection, the spill dir is re-cleaned after any failure, and the
report is written in a finally block even if the loop itself dies."""
import fcntl, json, math, os, shutil, sys
import duckdb

from headroom import floor_gb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
report_path = sys.argv[3] if len(sys.argv) > 3 else None
subset = sys.argv[4:]
report = {}

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# Refuse to bless a vacuous run (VERDICT r17 ask #8): an empty oracle
# dump means Verify never completed — writing a {} report (or "0/0
# match") would read as green to everything downstream. Checked FIRST,
# before the lock/spill side effects: the refusal must be free.
if not oracle:
    sys.exit(f"ABORT: {outdir}/oracle_sql.json is empty — refusing to "
             "compare/report a vacuous run (the r17 silent-{} failure)")
if subset:
    missing = [q for q in subset if q not in oracle]
    if missing:
        sys.exit(f"ABORT: subset queries not in oracle_sql.json: {missing}")
    oracle = {q: oracle[q] for q in subset}

# Heavy-harness serialization (VERDICT r17 ask #2): the r17 driver
# artifacts were poisoned by a 42 GB DuckDB 100x check co-running with
# the driver's verify/bench window. Block on the same lockfile run.sh
# and gates.sh take; GRAFT_LOCK_HELD marks a parent already holding it.
if not os.environ.get("GRAFT_LOCK_HELD"):
    _lock = open("/tmp/graft_heavy.lock", "w")
    fcntl.flock(_lock, fcntl.LOCK_EX)

# Disk-headroom pre-flight mirroring gates.sh's (VERDICT r17 finding
# #3: the manual check.py path filled /tmp with DuckDB spill and
# errored 4 oracle rows on ENOSPC mid-gate). Start from a clean spill
# dir, verify the floor, and BOUND the spill so a runaway oracle
# errors loudly instead of exhausting the filesystem under everything
# else on the host. GRAFT_DUCKDB_SPILL overrides the dir so a guard
# test (tiny temp cap, deliberate bust) never wipes a live gate's
# spill out from under it.
_spill = os.environ.get("GRAFT_DUCKDB_SPILL", "/tmp/duckdb_spill")


def clean_spill():
    shutil.rmtree(_spill, ignore_errors=True)
    os.makedirs(_spill, exist_ok=True)


clean_spill()
_free_gb = shutil.disk_usage("/tmp").free // 2**30
# the floor scales with the fixture (tools/headroom.py, shared with gates.sh)
_need_gb = floor_gb(sfdir)
if _free_gb < _need_gb:
    sys.exit(f"ABORT: only {_free_gb}G free on /tmp (need {_need_gb}G)")
_temp_cap = os.environ.get("GRAFT_DUCKDB_TEMP_CAP",
                           f"{max(10, _free_gb - 15)}GiB")

# One FRESH connection per oracle query. The heavy rebuild oracles
# (IVF-PQ at the 100x fixture) reliably pass on a fresh connection
# (~8 GB peak, 77 s measured) but throw "Out of Memory Error ... (bad
# allocation)" when run after other queries on a shared connection —
# cumulative allocator/buffer-pool state, not the query's own
# footprint. The in-memory connection also has no temp_directory by
# default, so blocking operators (windows, big hash aggs) cannot
# spill; give it one. The gate sorts results itself, so insertion
# order is free to drop.
def connect():
    c = duckdb.connect()
    c.execute(f"SET temp_directory='{_spill}'")
    try:
        c.execute(f"SET max_temp_directory_size='{_temp_cap}'")
    except duckdb.Error:
        pass  # older duckdb without the cap setting
    c.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '80GB')}'")
    c.execute(f"SET threads={os.environ.get('GRAFT_DUCKDB_THREADS', '8')}")
    c.execute("SET preserve_insertion_order=false")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        c.execute(f"CREATE VIEW {t} AS FROM read_parquet('{sfdir}/{t}.parquet')")
    return c


def reconnect(old):
    """Close (tolerating an invalidated handle) and open fresh. A fatal
    in the previous query may have filled the spill dir — re-clean it so
    the failure doesn't cascade into every later query's temp budget."""
    try:
        if old is not None:
            old.close()
    except Exception:
        pass
    clean_spill()
    return connect()


fail = 0


def record(name, **kw):
    row = {"rows_match": None, "schema_match": None, "hash_match": None,
           "spark_rows": None, "oracle_rows": None, "err": None}
    row.update(kw)
    report[name] = row


def write_report(in_flight=False):
    """in_flight: called from the finally block with an exception already
    propagating. Anything raised HERE (the empty-report sys.exit, a
    json.load on a corrupt standing artifact in subset-merge mode) would
    REPLACE that original exception and hide the real crash cause behind
    'zero rows to report' — so under an in-flight exception this only
    prints the secondary failure and lets the original propagate."""
    if not report_path:
        return
    try:
        if not report:
            sys.exit(f"ABORT: zero rows to report — refusing to write an "
                     f"empty {report_path} (the r17 silent-{{}} failure)")
        merged = report
        if subset and os.path.exists(report_path):
            # Subset re-check: update only the named rows of the standing
            # artifact — never shrink its coverage.
            merged = json.load(open(report_path))
            merged.update(report)
        with open(report_path, "w") as f:
            json.dump(dict(sorted(merged.items())), f, indent=2)
        print(f"report -> {report_path}")
    except BaseException as e:
        if not in_flight:
            raise
        print(f"SECONDARY: write_report failed under an in-flight "
              f"exception: {e!r} — original propagates", file=sys.stderr)


# Staleness guard: Verify stamps each query dir with the run's UUID and
# writes the same UUID to run_stamp.txt alongside oracle_sql.json. A
# query dir carrying a different (or missing) stamp is a leftover from an
# older run — refuse to compare it instead of risking a stale pass/fail.
run_stamp = None
stamp_file = os.path.join(outdir, "run_stamp.txt")
if os.path.exists(stamp_file):
    run_stamp = open(stamp_file).read().strip()

con = None
try:
    con = connect()
    for name, sql in sorted(oracle.items()):
        con = reconnect(con)
        if run_stamp is not None:
            qstamp_file = os.path.join(outdir, name, "_GRAFT_STAMP")
            qstamp = open(qstamp_file).read().strip() if os.path.exists(qstamp_file) else None
            if qstamp != run_stamp:
                print(f"FAIL {name}: stale output (stamp {qstamp!r} != run {run_stamp!r})"); fail += 1
                record(name, err="stale output: stamp mismatch"); continue
        try:
            got = con.execute(f"FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}"); fail += 1
            record(name, err=f"spark output missing: {e}")
            con = reconnect(con); continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); fail += 1
            record(name, spark_rows=len(got), err=f"oracle error: {e}")
            # A fatal (temp exhaustion / OOM abort) invalidates the whole
            # database, not just the cursor — reopen before the next query.
            con = reconnect(con); continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        record(name, spark_rows=len(got), oracle_rows=len(exp),
               rows_match=len(got) == len(exp),
               schema_match=list(got.columns) == list(exp.columns),
               hash_match=False)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}"); fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); fail += 1; continue
        gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
        bad = None
        for c in got.columns:
            gv, ev = gs[c], es[c]
            for i in range(len(gv)):
                a, b = gv.iloc[i], ev.iloc[i]
                if a is None or (isinstance(a, float) and math.isnan(a)):
                    if b is None or (isinstance(b, float) and math.isnan(b)): continue
                    bad = (c, i, a, b); break
                if isinstance(a, float) and isinstance(b, float):
                    if a != b:
                        bad = (c, i, a, b); break
                elif str(a) != str(b):
                    bad = (c, i, a, b); break
            if bad: break
        if bad:
            print(f"FAIL {name}: col={bad[0]} row={bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}")
            fail += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
            report[name]["hash_match"] = True

    if report_path and not subset:
        # queries Verify dumped but that declare no oracle (rows-only gate)
        for name in sorted(os.listdir(outdir)):
            if name not in report and os.path.isdir(os.path.join(outdir, name)):
                try:
                    n = len(con.execute(
                        f"FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf())
                except Exception:
                    n = None
                record(name, spark_rows=n, err="no_oracle")
except BaseException:
    # The report is evidence either way (VERDICT r18 ask #3): a crash
    # after N green rows must still leave those N rows on disk — but a
    # secondary failure in the writer must not mask the crash cause.
    write_report(in_flight=True)
    raise
else:
    write_report()

print(f"\n{len(oracle)-fail}/{len(oracle)} queries match")
sys.exit(1 if fail else 0)
