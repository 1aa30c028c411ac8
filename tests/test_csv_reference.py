"""Reference CSV dialect parity tests (FIXTURES.md §A5 edge cases).

Fixtures are built to the reference's own dialect: no quoting, empty
fields preserved, blank lines, duplicate donor keys, empty amounts.
"""

from __future__ import annotations

import glob
import importlib.util
import os

import numpy as np
import pytest
from py4j.protocol import Py4JError

from map_reduce_c_sharp_simulation_multithreaded_spark.sources.csv_reference import (
    donations_by_state,
    read_donations,
    read_donors,
    write_result_csv,
)

DONORS = """Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip
d1,Springfield,CA,No,90001
d2,Portland,NY,Yes,10001

d1,Oakland,TX,No,73301
d3,Austin,other,No,
"""

DONATIONS = """Project ID,Donation ID,Donor ID,Donation Included Optional Donation,Donation Amount,Donor Cart Sequence
p1,x1,d1,Yes,100.50,1
p2,x2,d2,No,25.25,2
p3,x3,d1,Yes,,3
p4,x4,d3,No,10.00,1
p5,x5,d2,No,4.25,9
"""


@pytest.fixture(scope="module")
def csv_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("refcsv")
    donors = d / "donors.csv"
    donations = d / "donations.csv"
    donors.write_text(DONORS)
    donations.write_text(DONATIONS)
    return str(donors), str(donations), str(d / "result")


def test_flagship_reference_semantics(spark, csv_paths):
    donors_path, donations_path, _ = csv_paths
    donors = read_donors(spark, donors_path)
    donations = read_donations(spark, donations_path)
    out = {
        r.State: r["Total Donation Amount"]
        for r in donations_by_state(donors, donations).collect()
    }
    # d1 duplicated: LAST occurrence (TX) wins -> d1's 100.50 + 0.0 go to TX
    # empty amount coalesces to 0.0; blank line between rows is skipped
    assert out == {"TX": 100.50, "NY": 29.50, "other": 10.00}


def test_strict_mode_raises_on_unknown_donor(spark, csv_paths):
    donors_path, donations_path, _ = csv_paths
    donors = read_donors(spark, donors_path)
    extra = spark.createDataFrame(
        [("p9", "x9", "dMISSING", "No", 5.0, "1")], read_donations(spark, donations_path).schema
    )
    donations = read_donations(spark, donations_path).union(extra)
    with pytest.raises(ValueError, match="strict join"):
        donations_by_state(donors, donations, strict=True).collect()
    # non-strict mode drops the orphan row instead (inner-join semantics)
    out = donations_by_state(donors, donations, strict=False)
    assert abs(sum(r["Total Donation Amount"] for r in out.collect()) - 140.0) < 1e-9


def test_result_csv_f2_rendering(spark, csv_paths, tmp_path):
    donors_path, donations_path, _ = csv_paths
    result = donations_by_state(
        read_donors(spark, donors_path), read_donations(spark, donations_path)
    )
    out_dir = str(tmp_path / "result")
    write_result_csv(result, out_dir)
    lines = []
    for f in glob.glob(f"{out_dir}/part-*.csv"):
        with open(f) as fh:
            lines += [ln.strip() for ln in fh if ln.strip()]
    header = "State,Total Donation Amount"
    assert header in lines
    body = sorted(ln for ln in lines if ln != header)
    assert body == ["NY,29.50", "TX,100.50", "other,10.00"]


def _by_state(df):
    return {r.State: r["Total Donation Amount"] for r in df.collect()}


def test_strict_equals_non_strict_when_ri_holds(spark, csv_paths):
    donors_path, donations_path, _ = csv_paths
    donors = read_donors(spark, donors_path)
    donations = read_donations(spark, donations_path)
    assert _by_state(donations_by_state(donors, donations, strict=True)) == (
        _by_state(donations_by_state(donors, donations, strict=False))
    )


def test_strict_keeps_null_state_group(spark, tmp_path):
    """A donor whose Donor State field is empty parses NULL; the donor
    still exists, so strict mode does not raise, and the NULL-State
    group survives exactly as in the non-strict inner join."""
    donors_path = tmp_path / "donors.csv"
    donors_path.write_text(DONORS + "d4,Nowhere,,No,\n")
    donations_path = tmp_path / "donations.csv"
    donations_path.write_text(DONATIONS + "p6,x6,d4,No,7.00,1\n")
    donors = read_donors(spark, str(donors_path))
    donations = read_donations(spark, str(donations_path))
    strict = _by_state(donations_by_state(donors, donations, strict=True))
    assert strict[None] == 7.0
    assert strict == _by_state(donations_by_state(donors, donations, strict=False))


def test_strict_raises_on_empty_donor_id_before_sink(spark, tmp_path):
    """An empty Donor ID parses NULL, which matches no donor: strict
    mode raises inside donations_by_state, so the sink never runs and
    its target directory is never created."""
    donors_path = tmp_path / "donors.csv"
    donors_path.write_text(DONORS)
    donations_path = tmp_path / "donations.csv"
    donations_path.write_text(DONATIONS + "p6,x6,,No,7.00,1\n")
    out_dir = tmp_path / "result"
    with pytest.raises(ValueError, match="strict join"):
        result = donations_by_state(
            read_donors(spark, str(donors_path)),
            read_donations(spark, str(donations_path)),
            strict=True,
        )
        write_result_csv(result, str(out_dir))
    assert not out_dir.exists()


def test_strict_result_does_not_rescan_sources(spark, csv_paths):
    """The strict result is read from the one evaluation that ran the
    check: its executed plan scans no file, so a sink written from it
    does not run the join a second time."""
    donors_path, donations_path, _ = csv_paths
    result = donations_by_state(
        read_donors(spark, donors_path),
        read_donations(spark, donations_path),
        strict=True,
    )
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan


def _reference_tokenizer(lines: list[str]) -> list[str]:
    """Direct Python transcription of IOHelper.ReadNextToken
    (D/Program.cs:549-571): line-buffered token pull with the
    skip-at-most-one-blank-line quirk."""
    tokens: list[str] = []
    it = iter(lines)

    def read_line():
        try:
            return next(it).strip()
        except StopIteration:
            return None

    cur: list[str] = []
    idx = 0
    while True:
        if idx >= len(cur):
            line = read_line()
            if line == "":
                line = read_line()
            if line is None:
                return tokens
            cur = __import__("re").split(r"[,\t]", line)
            idx = 0
        if idx >= len(cur):
            return tokens
        tokens.append(cur[idx])
        idx += 1


def _tokenstream_rows(spark, tmp_path, lines, n_cols=3):
    from map_reduce_c_sharp_simulation_multithreaded_spark.sources.csv_reference import (
        read_reference_tokenstream,
    )

    f = tmp_path / "in.csv"
    f.write_text("\n".join(lines) + "\n")
    df = read_reference_tokenstream(spark, str(f), n_cols)
    return sorted(tuple(r) for r in df.collect())


def test_tokenstream_single_blank_skipped(spark, tmp_path):
    lines = ["a,b,c", "1,x,10", "", "2,y,20"]
    assert _tokenstream_rows(spark, tmp_path, lines) == [
        ("1", "x", "10"),
        ("2", "y", "20"),
    ]


def test_tokenstream_double_blank_injects_empty_token(spark, tmp_path):
    """Two consecutive blanks mid-file inject ONE empty token, shifting
    every subsequent field — the reference's at-most-one-skip bug
    (D/Program.cs:555-561), differentially pinned against a direct
    Python transcription of the tokenizer."""
    lines = ["a,b,c", "1,x,10", "", "", "2,y,20", "3,z,30"]
    toks = _reference_tokenizer(lines)
    # reference stream: header, record 1, injected "", then shifted rows
    assert toks == ["a", "b", "c", "1", "x", "10", "", "2", "y",
                    "20", "3", "z", "30"]
    expect = sorted(
        tuple(toks[i : i + 3]) for i in range(3, len(toks) - 2, 3)
    )
    assert _tokenstream_rows(spark, tmp_path, lines) == expect
    # and the misalignment is visible: record 2 starts with the empty token
    assert ("", "2", "y") in expect


def test_tokenstream_blank_runs_match_reference(spark, tmp_path):
    """Runs of 1..4 blanks: k // 2 empty tokens injected, matching the
    transcribed tokenizer exactly."""
    for k in (1, 2, 3, 4):
        lines = ["a,b,c", "1,x,10", *([""] * k), "2,y,20", "3,z,30"]
        toks = _reference_tokenizer(lines)
        n_full = (len(toks) - 3) // 3
        expect = sorted(
            tuple(toks[3 + 3 * i : 6 + 3 * i]) for i in range(n_full)
        )
        got = _tokenstream_rows(spark, tmp_path, lines)
        assert got == expect, f"k={k}: {got} != {expect}"
        assert toks.count("") == k // 2


def test_stdin_console_pipe_mode(spark, monkeypatch):
    """path='-' reads the donors CSV from stdin (the reference's
    inputFile == null console mode, D/Program.cs:520-523)."""
    import io

    from map_reduce_c_sharp_simulation_multithreaded_spark.sources.csv_reference import (
        read_donors,
    )

    csv = (
        "Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip\n"
        "d1,Springfield,Illinois,No,62704\n"
        "d2,Portland,Oregon,Yes,97201\n"
    )
    monkeypatch.setattr("sys.stdin", io.StringIO(csv))
    rows = {(r["Donor ID"], r["Donor State"]) for r in read_donors(spark, "-").collect()}
    assert rows == {("d1", "Illinois"), ("d2", "Oregon")}


def test_ascii_encoding_bug_compat_mode(spark, tmp_path):
    """ascii_mode reproduces the reference's hard-coded Encoding.ASCII
    readers (D/Program.cs:65,114): every non-ASCII BYTE decodes to '?',
    so a 2-byte UTF-8 'é' becomes '??'. Default mode keeps UTF-8."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.sources.csv_reference import (
        read_donors,
    )

    path = str(tmp_path / "donors_utf8.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write("Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip\n")
        f.write("d1,Montréal,Québec,No,H2X\n")
        f.write("d2,Portland,Oregon,Yes,97201\n")

    ascii_rows = {
        (r["Donor ID"], r["Donor City"], r["Donor State"])
        for r in read_donors(spark, path, ascii_mode=True).collect()
    }
    assert ascii_rows == {
        ("d1", "Montr??al", "Qu??bec"),  # one '?' per UTF-8 byte
        ("d2", "Portland", "Oregon"),
    }

    utf8_rows = {
        (r["Donor ID"], r["Donor State"])
        for r in read_donors(spark, path).collect()
    }
    assert utf8_rows == {("d1", "Québec"), ("d2", "Oregon")}


# --- per-donor partial sums below the join --------------------------------

HEADER_DONORS = "Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip\n"
HEADER_DONATIONS = (
    "Project ID,Donation ID,Donor ID,Donation Included Optional Donation,"
    "Donation Amount,Donor Cart Sequence\n"
)


def _write_pair(tmp_path, donors: str, donations: str):
    donors_path = tmp_path / "donors.csv"
    donations_path = tmp_path / "donations.csv"
    donors_path.write_text(HEADER_DONORS + donors)
    donations_path.write_text(HEADER_DONATIONS + donations)
    return str(donors_path), str(donations_path)


def test_per_donor_sum_lands_in_last_state(spark, tmp_path):
    """A donor's donations are summed per Donor ID before the join; the
    whole sum (an empty amount counting 0.0) goes to the state of the
    donor's LAST occurrence, in both modes."""
    donors_path, donations_path = _write_pair(
        tmp_path,
        "dA,Springfield,CA,No,90001\n"
        "dB,Portland,NY,Yes,10001\n"
        "dA,Oakland,TX,No,73301\n",
        "p1,x1,dA,Yes,10.25,1\n"
        "p2,x2,dB,No,1.00,1\n"
        "p3,x3,dA,Yes,,2\n"
        "p4,x4,dA,No,5.50,3\n"
        "p5,x5,dA,No,0.25,4\n",
    )
    donors = read_donors(spark, donors_path)
    donations = read_donations(spark, donations_path)
    strict = _by_state(donations_by_state(donors, donations, strict=True))
    assert strict == {"TX": 16.0, "NY": 1.0}
    assert strict == _by_state(donations_by_state(donors, donations, strict=False))


def test_strict_names_missing_donor_with_several_donations(spark, tmp_path):
    """An unknown Donor ID with several donations is one unmatched
    per-donor row: strict mode still raises and names that ID."""
    donors_path, donations_path = _write_pair(
        tmp_path,
        "d1,Springfield,CA,No,90001\n",
        "p1,x1,d1,Yes,1.00,1\n"
        "p2,x2,dGONE,No,2.00,1\n"
        "p3,x3,dGONE,No,3.00,2\n"
        "p4,x4,dGONE,No,,3\n",
    )
    with pytest.raises(ValueError, match="strict join") as err:
        donations_by_state(
            read_donors(spark, donors_path),
            read_donations(spark, donations_path),
            strict=True,
        )
    assert "dGONE" in str(err.value)


def _perfbench_gen():
    """The benchmark's input generator, loaded read-only from its file
    (``perfbench`` is a script directory, not a package)."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "gen.py",
    )
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("strict", [True, False])
def test_generated_fixture_matches_generator_cents(spark, tmp_path, strict):
    """The benchmark generator's inputs (duplicate donors, Zipf-skewed
    donations, empty amounts) at small scale: per-state totals match
    the generator's own integer cents within one cent."""
    gen = _perfbench_gen()
    out = str(tmp_path / "gen")
    expected = gen.gen_donors(np.random.default_rng(7), out, 2_000, 6_000)
    got = _by_state(
        donations_by_state(
            read_donors(spark, f"{out}/donors.csv"),
            read_donations(spark, f"{out}/donations.csv"),
            strict=strict,
        )
    )
    assert set(got) == set(expected)
    for state, cents in expected.items():
        assert abs(got[state] * 100 - cents) <= 1, state


def _plan_nodes(node):
    """Every node of a physical plan, descending through AQE wrappers
    and query stages."""
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _plan_nodes(ch.apply(i))
    for meth in ("executedPlan", "plan"):
        try:
            inner = getattr(node, meth)()
        except Py4JError:  # not an AQE wrapper or query stage
            continue
        yield from _plan_nodes(inner)


def test_donations_aggregated_by_donor_below_join(spark, csv_paths):
    """The executed non-strict plan sums the donations per Donor ID
    below the join; which join strategy AQE picks is left open."""
    donors_path, donations_path, _ = csv_paths
    result = donations_by_state(
        read_donors(spark, donors_path),
        read_donations(spark, donations_path),
        strict=False,
    )
    result.collect()
    joins = [
        n for n in _plan_nodes(result._jdf.queryExecution().executedPlan())
        if "Join" in n.nodeName()
    ]
    assert joins
    below = [
        n.simpleString(25)
        for j in joins for n in _plan_nodes(j)
        if "Aggregate" in n.nodeName()
    ]
    assert any("keys=[Donor ID#" in s for s in below), below
