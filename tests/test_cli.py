"""CLI parity tests — golden text-protocol round-trips mirroring the
reference's test suite (tests.rs multicolumn/:284-335, multicolumn_select
:337-388, multicolumn_string :406-458, homogenic_types :628-672,
string_records :943-966, bytearray_records :968-996) and the delete /
gegnum CLI flows (main.rs:36-61, 397-499).
"""

import io
import sys

import pytest

from sonnerie_spark.cli import build_parser, cmd_add, cmd_compact, cmd_delete, cmd_read
from sonnerie_spark.db import Database


@pytest.fixture()
def db(spark, tmp_path):
    return Database(spark, str(tmp_path / "db"))


def run_cli(db, argv, stdin: str = "") -> str:
    args = build_parser().parse_args(["-d", db.path] + argv)
    handler = {"add": cmd_add, "read": cmd_read, "delete": cmd_delete, "compact": cmd_compact}
    old_in, old_out = sys.stdin, sys.stdout
    sys.stdin, sys.stdout = io.StringIO(stdin), io.StringIO()
    try:
        handler[args.cmd](db, args)
        return sys.stdout.getvalue()
    finally:
        sys.stdin, sys.stdout = old_in, old_out


def test_add_read_roundtrip_fixed_fmt(db):
    lines = "\n".join(
        f"fib 2010-01-0{i+1}T00:00:00 {v}" for i, v in enumerate([1, 1, 2, 3, 5, 8])
    )
    run_cli(db, ["add", "--format", "u"], stdin=lines + "\n")
    out = run_cli(db, ["read", "fib%"])
    assert out.splitlines() == [
        f"fib\t2010-01-0{i+1} 00:00:00\t{v}" for i, v in enumerate([1, 1, 2, 3, 5, 8])
    ]


def test_multicolumn_roundtrip_and_select(db):
    # per-line format column (heterogeneous): 'Ff', 'uu', 'su'
    stdin = (
        "a 1000000000 Ff 3.25 0.5\n"
        "a 2000000000 uu 7 9\n"
        "b 1000000000 su hello\\ world 4\n"
    )
    run_cli(db, ["add"], stdin=stdin)
    out = run_cli(db, ["read", "%", "--print-format", "--timestamp-nanos"])
    assert out.splitlines() == [
        "a\t1000000000\tFf\t3.25000000000000000 0.50000000000000000",
        "a\t2000000000\tuu\t7 9",
        "b\t1000000000\tsu\thello\\ world 4",
    ]
    # --columns 2 selects the 2nd column only (1-based, main.rs:135-139)
    out2 = run_cli(db, ["read", "a%", "--columns", "2", "--timestamp-seconds"])
    assert out2.splitlines() == ["a\t1\t0.50000000000000000", "a\t2\t9"]


def test_string_escape_and_base64_roundtrip(db):
    stdin = "k 0 sB tab\\there AAEC\n"
    run_cli(db, ["add"], stdin=stdin)
    out = run_cli(db, ["read", "k", "--timestamp-nanos", "--print-format"])
    assert out.splitlines() == ["k\t0\tsB\ttab\\there AAEC"]


def test_unsorted_add(db):
    stdin = "b 2000000000 2\nb 1000000000 1\na 1000000000 0\n"
    run_cli(db, ["add", "--format", "u", "--unsorted"], stdin=stdin)
    out = run_cli(db, ["read", "%", "--timestamp-seconds"])
    assert out.splitlines() == ["a\t1\t0", "b\t1\t1", "b\t2\t2"]


def test_sorted_add_rejects_out_of_order_keys(db):
    """`add` without --unsorted mirrors the reference's writer, which
    errors on out-of-order keys (KeyOrderingViolation, write.rs:174-179)
    instead of silently sorting."""
    from sonnerie_spark.db import CommitError

    with pytest.raises(CommitError, match="key ordering"):
        run_cli(db, ["add", "--format", "u"], stdin="b 1000000000 1\na 1000000000 2\n")


def test_key_and_time_bound_flags(db):
    stdin = "".join(f"k{i} {i}000000000 {i}\n" for i in range(1, 6))
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    out = run_cli(
        db,
        ["read", "%", "--after-key", "k2", "--before-key", "k5",
         "--after-time", "3000000000", "--timestamp-nanos"],
    )
    assert out.splitlines() == ["k3\t3000000000\t3", "k4\t4000000000\t4"]


def test_delete_time_point(db):
    stdin = "".join(f"k {i}000000000 {i}\n" for i in range(3))
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    run_cli(db, ["delete", "%", "--time", "1000000000"])  # [T, T+1ns)
    out = run_cli(db, ["read", "%", "--timestamp-seconds"])
    assert out.splitlines() == ["k\t0\t0", "k\t2\t2"]


def test_compact_gegnum_subprocess(db):
    stdin = "bad 1000000000 1\ngood 1000000000 2\n"
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    run_cli(db, ["compact", "--major", "--gegnum", "grep -v ^bad"])
    out = run_cli(db, ["read", "%", "--timestamp-seconds"])
    assert out.splitlines() == ["good\t1\t2"]
    assert [r.name for r in db.runs()] == ["main"]


def test_compact_gegnum_whole_stream_stateful(db):
    """--whole-stream: ONE subprocess sees the entire sorted dump
    (main.rs:429-477), so a cross-key stateful filter — awk keeping the
    globally FIRST record per value — matches reference semantics. The
    per-partition default cannot express this: duplicates of a value on
    keys in different partitions would each survive their own pipe."""
    stdin = (
        "a 1000000000 7\n"
        "b 1000000000 7\n"   # dup value on another key: must be dropped
        "b 2000000000 8\n"
        "c 1000000000 8\n"   # dup value on a third key: must be dropped
        "c 2000000000 9\n"
    )
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    run_cli(
        db,
        ["compact", "--major", "--whole-stream", "--gegnum", "awk '!seen[$4]++'"],
    )
    out = run_cli(db, ["read", "%", "--timestamp-seconds"])
    assert out.splitlines() == ["a\t1\t7", "b\t2\t8", "c\t2\t9"]
    assert [r.name for r in db.runs()] == ["main"]
    # spool dirs were cleaned up after the commit
    import os

    assert not [n for n in os.listdir(db.path) if n.startswith(".tmp-gegnum")]


def test_compact_gegnum_whole_stream_failure_cancels(db):
    """A failing gegnum child cancels the compact, like the reference's
    'child process failed: cancelling compact' panic (main.rs:474-476)."""
    run_cli(db, ["add", "--format", "u"], stdin="a 1000000000 1\n")
    run_cli(db, ["add", "--format", "u"], stdin="b 1000000000 2\n")
    with pytest.raises(RuntimeError, match="gegnum command failed"):
        run_cli(db, ["compact", "--major", "--whole-stream", "--gegnum", "false"])
    # database unchanged: both runs still present, data intact
    out = run_cli(db, ["read", "%", "--timestamp-seconds"])
    assert out.splitlines() == ["a\t1\t1", "b\t1\t2"]


def test_parallel_subprocess_read(db):
    stdin = "".join(f"k{i:02d} 1000000000 {i}\n" for i in range(10))
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    out = run_cli(db, ["read", "%", "--parallel", "wc -l"])
    # each partition pipes through its own `wc -l`; totals sum to 10
    counts = [int(x) for x in out.split()]
    assert sum(counts) == 10


def test_dump_run_single_transaction(db):
    run_cli(db, ["add", "--format", "u"], stdin="a 1000000000 1\n")
    run_cli(db, ["add", "--format", "u"], stdin="b 2000000000 2\n")
    runs = [r.name for r in db.data_runs()]
    args = build_parser().parse_args(["-d", db.path, "dump-run", runs[0]])
    from sonnerie_spark.cli import cmd_dump_run
    old = sys.stdout
    sys.stdout = io.StringIO()
    try:
        cmd_dump_run(db, args)
        out = sys.stdout.getvalue()
    finally:
        sys.stdout = old
    # only the first run's record, raw (no merge with the second tx)
    assert out.splitlines() == ["a\t1000000000\tu\t1"]


def test_add_with_timestamp_format(db):
    # add --timestamp-format parses the ts token with strftime
    # (formatted.rs:39-47); read renders it back with the default style
    stdin = "k 2021-06-01 5\nk 2021-06-02 6\n"
    run_cli(db, ["add", "--format", "u", "--timestamp-format", "%Y-%m-%d"], stdin=stdin)
    out = run_cli(db, ["read", "k"])
    assert out.splitlines() == [
        "k\t2021-06-01 00:00:00\t5",
        "k\t2021-06-02 00:00:00\t6",
    ]
    # a token that does not match the pattern is a hard error
    with pytest.raises(Exception):
        run_cli(db, ["add", "--format", "u", "--timestamp-format", "%Y-%m-%d"],
                stdin="k notadate 1\n")


def test_gegnum_with_timestamp_format(db):
    run_cli(db, ["add", "--format", "u"],
            stdin="a 1000000000 1\nb 2000000000 2\n")
    # strftime-formatted timestamps survive the gegnum pipe: printed with
    # the pattern, re-parsed with it (main.rs gegnum --timestamp-format)
    run_cli(db, ["compact", "--major", "--gegnum", "grep -v ^b",
                 "--timestamp-format", "%Y-%m-%dT%H:%M:%S"])
    out = run_cli(db, ["read", "%", "--timestamp-nanos"])
    assert out.splitlines() == ["a\t1000000000\t1"]


def test_bare_read_and_delete_require_filter(db):
    # clap required_unless_present_any parity (main.rs:37-39, 89-91):
    # a bare delete must NOT silently target the whole database
    with pytest.raises(SystemExit):
        run_cli(db, ["read"])
    with pytest.raises(SystemExit):
        run_cli(db, ["delete"])
    # read accepts KEY bounds only (main.rs:89-91); time bounds alone
    # still error, unlike delete where any bound suffices (main.rs:37-39)
    with pytest.raises(SystemExit):
        run_cli(db, ["read", "--after-time", "0"])
    run_cli(db, ["add", "--format", "u"], stdin="k 1000 1\n")
    run_cli(db, ["delete", "--before-time", "2000"])
    assert run_cli(db, ["read", "%"]) == ""
    assert run_cli(db, ["read", "--after-key", ""]) == ""


def test_cli_prefix_read_fast_path(db):
    run_cli(db, ["add", "--format", "u"], stdin="aa 1000 1\nab 2000 2\nb 3000 3\n")
    out = run_cli(db, ["read", "a%", "--timestamp-nanos"])
    assert out.splitlines() == ["aa\t1000\t1", "ab\t2000\t2"]
    # time bounds compose with the prefix fast path
    out2 = run_cli(db, ["read", "a%", "--timestamp-nanos", "--after-time", "1500"])
    assert out2.splitlines() == ["ab\t2000\t2"]


def test_conflicting_flag_rules_match_reference(db):
    """clap-parity conflict rules: --time vs the time bounds on delete
    (main.rs:49-59), and the mutually-exclusive timestamp output styles
    on read (main.rs:99-112)."""
    run_cli(db, ["add", "--format", "u"], stdin="k 1000000000 1\n")
    with pytest.raises(SystemExit, match="--time conflicts"):
        run_cli(db, ["delete", "%", "--time", "1000000000", "--before-time", "2000000000"])
    with pytest.raises(SystemExit, match="timestamp-nanos conflicts"):
        run_cli(db, ["read", "%", "--timestamp-nanos", "--timestamp-seconds"])
    with pytest.raises(SystemExit, match="timestamp-format conflicts"):
        run_cli(db, ["read", "%", "--timestamp-format", "%Y", "--timestamp-nanos"])


def test_rollup_subcommand(db, tmp_path):
    from sonnerie_spark.cli import cmd_rollup, parse_interval
    from sonnerie_spark.streaming.rollup import ContinuousRollup

    assert parse_interval("1h") == 3600 * 10**9
    assert parse_interval("90s") == 90 * 10**9
    assert parse_interval("1000000") == 1000000
    with pytest.raises(SystemExit):
        parse_interval("5 fortnights")

    stdin = (
        "k 1000000000 1\n"
        "k 2000000000 2\n"
        "k 4000000000 9\n"  # second 3s-bucket
    )
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    dest = str(tmp_path / "roll")
    args = build_parser().parse_args(
        ["-d", db.path, "rollup", "--dest", dest, "--interval", "3s"]
    )
    old_out, sys.stdout = sys.stdout, io.StringIO()
    try:
        assert cmd_rollup(db, args) == 0
        printed = sys.stdout.getvalue().strip()
    finally:
        sys.stdout = old_out
    assert printed.startswith("tx.")

    roll = ContinuousRollup(db, dest, interval_ns=3 * 10**9)
    got = {
        (r["key"], r["bucket_ts"]): (r["n"], r["sum"]) for r in roll.read().collect()
    }
    assert got == {("k", 0): (2, 3.0), ("k", 3 * 10**9): (1, 9.0)}

    # second run with no new data prints up-to-date
    old_out, sys.stdout = sys.stdout, io.StringIO()
    try:
        cmd_rollup(db, args)
        printed = sys.stdout.getvalue().strip()
    finally:
        sys.stdout = old_out
    assert printed == "up-to-date"


def test_read_keys_flag(db):
    stdin = "ka 1000 1\nkb 2000 2\nkc 3000 3\n"
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    out = run_cli(db, ["read", "--keys", "ka,kc", "--timestamp-nanos"])
    assert out.splitlines() == ["ka\t1000\t1", "kc\t3000\t3"]
    # --keys composes with a time bound
    out = run_cli(db, ["read", "--keys", "ka,kc", "--timestamp-nanos",
                       "--after-time", "2000"])
    assert out.splitlines() == ["kc\t3000\t3"]


def test_stats_command(db, capsys):
    from sonnerie_spark.cli import cmd_stats

    run_cli(db, ["add", "--format", "u"], stdin="a 1000 1\nb 2000 2\n")
    run_cli(db, ["add", "--format", "u"], stdin="c 3000 3\n")
    run_cli(db, ["delete", "a"])
    args = build_parser().parse_args(["-d", db.path, "stats"])
    assert cmd_stats(db, args) == 0
    out = capsys.readouterr().out
    assert "2 runs" in out and "3 rows" in out and "1 delete-markers" in out

    s = db.stats()
    assert s["n_runs"] == 2 and s["total_rows"] == 3
    assert s["delete_markers"] == 1 and s["buckets"] >= 1
    assert all(r["files"] >= 1 and r["bytes"] > 0 for r in s["runs"])


def test_export_import_roundtrip(db, spark, tmp_path):
    from sonnerie_spark.cli import cmd_export_parquet, cmd_import_parquet
    from sonnerie_spark.db import Database

    run_cli(db, ["add", "--format", "u"], stdin="a 1000 1\na 2000 2\nb 1000 3\n")
    run_cli(db, ["delete", "b"])
    dest = str(tmp_path / "export")
    args = build_parser().parse_args(["-d", db.path, "export-parquet", dest])
    assert cmd_export_parquet(db, args) == 0

    # exported dataset is engine-independent: plain spark read sees the
    # merged, delete-filtered truth
    plain = spark.read.parquet(dest)
    assert {(r.key, r.ts) for r in plain.collect()} == {("a", 1000), ("a", 2000)}

    # on-ramp into a fresh database reproduces the records
    db2 = Database(spark, str(tmp_path / "db2"))
    args = build_parser().parse_args(["-d", db2.path, "import-parquet", dest])
    old_out, sys.stdout = sys.stdout, io.StringIO()
    try:
        assert cmd_import_parquet(db2, args) == 0
        assert sys.stdout.getvalue().startswith("tx.")
    finally:
        sys.stdout = old_out
    assert {(r.key, r.ts, r.v_long[0]) for r in db2.read().collect()} == {
        ("a", 1000, 1),
        ("a", 2000, 2),
    }


def test_read_as_of_flag(db):
    run_cli(db, ["add", "--format", "u"], stdin="k 1000 1\n")
    t1 = db.data_runs()[-1].name
    run_cli(db, ["add", "--format", "u"], stdin="k 2000 2\n")
    out = run_cli(db, ["read", "k", "--as-of", t1, "--timestamp-nanos"])
    assert out.splitlines() == ["k\t1000\t1"]


def test_rollup_cascade_cli(db, tmp_path):
    from sonnerie_spark.cli import cmd_rollup
    from sonnerie_spark.db import Database
    from sonnerie_spark.streaming.rollup import ContinuousRollup

    stdin = "".join(f"k {t * 10**9} {t}\n" for t in range(0, 7200, 600))
    run_cli(db, ["add", "--format", "u"], stdin=stdin)
    fine_dir = str(tmp_path / "r1h")
    args = build_parser().parse_args(
        ["-d", db.path, "rollup", "--dest", fine_dir, "--interval", "1h"]
    )
    old_out, sys.stdout = sys.stdout, io.StringIO()
    try:
        cmd_rollup(db, args)
    finally:
        sys.stdout = old_out

    coarse_dir = str(tmp_path / "r2h")
    args = build_parser().parse_args(
        ["-d", fine_dir, "rollup", "--dest", coarse_dir, "--interval", "2h",
         "--source-is-rollup"]
    )
    fine_db = Database(db.spark, fine_dir)
    old_out, sys.stdout = sys.stdout, io.StringIO()
    try:
        assert cmd_rollup(fine_db, args) == 0
    finally:
        sys.stdout = old_out
    coarse = ContinuousRollup(
        fine_db, coarse_dir, interval_ns=2 * 3600 * 10**9, source_is_rollup=True
    )
    got = {r["bucket_ts"]: r["n"] for r in coarse.read().collect()}
    assert got == {0: 12}  # all 12 ten-minute records in one 2h bucket

    # misaligned cascade interval rejected at the CLI
    args = build_parser().parse_args(
        ["-d", fine_dir, "rollup", "--dest", str(tmp_path / "bad"),
         "--interval", "90m", "--source-is-rollup"]
    )
    with pytest.raises(SystemExit, match="multiple"):
        cmd_rollup(fine_db, args)


def test_rollup_num_values_cli(db, tmp_path):
    """--num-values rolls up both value columns; a CLI cascade inherits
    the value count from the source rollup's cursor."""
    from sonnerie_spark.cli import cmd_rollup
    from sonnerie_spark.db import Database
    from sonnerie_spark.streaming.rollup import ContinuousRollup

    stdin = (
        "k 1000000000 1.0 10.0\n"
        "k 2000000000 2.0 20.0\n"
        "k 4000000000 9.0 90.0\n"
    )
    run_cli(db, ["add", "--format", "FF"], stdin=stdin)
    dest = str(tmp_path / "mcroll")
    args = build_parser().parse_args(
        ["-d", db.path, "rollup", "--dest", dest, "--interval", "3s",
         "--num-values", "2"]
    )
    assert cmd_rollup(db, args) == 0

    roll = ContinuousRollup(db, dest, interval_ns=3 * 10**9, num_values=2)
    got = {
        (r["key"], r["bucket_ts"]): (r["n1"], r["sum1"], r["n2"], r["sum2"])
        for r in roll.read().collect()
    }
    assert got == {
        ("k", 0): (2, 3.0, 2, 30.0),
        ("k", 3 * 10**9): (1, 9.0, 1, 90.0),
    }

    # cascade from the CLI: num_values comes from the source cursor
    coarse_dest = str(tmp_path / "mccoarse")
    rolldb = Database(db.spark, dest)
    cargs = build_parser().parse_args(
        ["-d", dest, "rollup", "--dest", coarse_dest, "--interval", "6s",
         "--source-is-rollup"]
    )
    assert cmd_rollup(rolldb, cargs) == 0
    coarse = ContinuousRollup(
        rolldb, coarse_dest, interval_ns=6 * 10**9, num_values=2,
        source_is_rollup=True,
    )
    got = {
        (r["key"], r["bucket_ts"]): (r["n1"], r["sum1"], r["n2"], r["sum2"])
        for r in coarse.read().collect()
    }
    assert got == {("k", 0): (3, 12.0, 3, 120.0)}


def test_jsonl_roundtrip(db, tmp_path):
    """export-jsonl -> import-jsonl reproduces the database exactly,
    including heterogeneous formats and binary (base64) columns."""
    from sonnerie_spark.cli import cmd_export_jsonl, cmd_import_jsonl
    from sonnerie_spark.db import Database

    tx = db.create_tx()
    tx.add_record("a", 1000, "u", [7])
    tx.add_record("a", 2000, "Fs", [2.5, "hi \t there"])
    tx.add_record("b", 1500, "B", [b"\x00\xffbin"])
    tx.commit()

    dest = str(tmp_path / "out.jsonl")
    args = build_parser().parse_args(["-d", db.path, "export-jsonl", dest])
    assert cmd_export_jsonl(db, args) == 0

    db2 = Database(db.spark, str(tmp_path / "db2"))
    args = build_parser().parse_args(["-d", db2.path, "import-jsonl", dest])
    old_out, sys.stdout = sys.stdout, io.StringIO()
    try:
        assert cmd_import_jsonl(db2, args) == 0
    finally:
        sys.stdout = old_out

    def snap(d):
        return sorted(
            (r.key, r.ts, r.fmt, tuple(r.v_long or []), tuple(r.v_double or []),
             tuple(r.v_str or []), tuple(bytes(b) for b in (r.v_bin or [])))
            for r in d.read().collect()
        )

    assert snap(db2) == snap(db) and snap(db)


def test_unsorted_add_rejects_duplicate_key_ts(db):
    """A duplicate (key, ts) in an --unsorted batch is refused by the
    commit itself (the reference writer's rule, write.rs:181-197), and
    no run is published."""
    from sonnerie_spark.db import CommitError

    with pytest.raises(CommitError, match="duplicate"):
        run_cli(
            db, ["add", "--format", "u", "--unsorted"],
            stdin="a 1000000000 1\nb 1000000000 2\na 1000000000 3\n",
        )
    assert db.runs() == []
