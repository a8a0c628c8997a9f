"""bench/harness.py without Spark: BENCH.md section replacement, the
BENCH_sections.json record store, the fresh-process N-vs-4N plumbing,
and that every bench script imports without starting a SparkContext."""

import glob
import json
import os
import subprocess
import sys

import pytest

from bench import harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADER = "# BENCH — header\n\nintro line\n\n"
A = "## Alpha\n\n(1 doc.) alpha body\n\n"
B = "## Beta\n\n(2 docs.) beta body\n| a | b |\n"
C = "## Gamma\n\ngamma body, no trailing newline"


@pytest.fixture
def bench_root(tmp_path, monkeypatch):
    monkeypatch.setattr(harness, "ROOT", str(tmp_path))
    (tmp_path / "BENCH.md").write_text(HEADER + A + B + C)
    return tmp_path


def _sections(path):
    return json.loads((path / "BENCH_sections.json").read_text())


def test_report_replaces_in_place_and_appends_new(bench_root, capsys):
    harness.report({"metric": "beta", "x": 1}, "## Beta\n\n(3 docs.) new beta\n")
    assert json.loads(capsys.readouterr().out) == {"metric": "beta", "x": 1}
    assert (bench_root / "BENCH.md").read_text() == (
        HEADER + A + "## Beta\n\n(3 docs.) new beta\n" + C)

    harness.report({"metric": "delta"}, "## Delta\n\ndelta body")
    assert (bench_root / "BENCH.md").read_text() == (
        HEADER + A + "## Beta\n\n(3 docs.) new beta\n" + C + "\n## Delta\n\ndelta body\n")

    harness.report({"metric": "head"}, "# BENCH — header\n\nnew intro\n")
    text = (bench_root / "BENCH.md").read_text()
    assert text.startswith("# BENCH — header\n\nnew intro\n## Alpha\n")
    assert text.endswith(A + "## Beta\n\n(3 docs.) new beta\n" + C + "\n## Delta\n\ndelta body\n")


def test_rerun_with_other_parameters_keeps_one_section(bench_root):
    for n, cores in ((100, 4), (2000, 32)):
        harness.report({"metric": "link_scale_end_to_end", "n": n},
                       "## End-to-end linking past the LSH cutover\n\n"
                       f"({n} surfaces, local[{cores}].) body\n")
    text = (bench_root / "BENCH.md").read_text()
    assert text.count("## End-to-end linking") == 1
    assert "(2000 surfaces, local[32].)" in text
    assert "(100 surfaces" not in text
    assert text.startswith(HEADER + A + B + C)


def test_scaling_scaleup_rerun_at_another_mult_keeps_one_section(bench_root, monkeypatch):
    """bench/scaling.py --mult at two sizes, with the Spark levels stubbed:
    the title carried the multiplier and turn count, so the second run
    appended a second scale-up section."""
    from bench import scaling

    def fake_n_vs_4n(fn, n_lo, rate_key, sf_dir, trials, mult, graph):
        def lvl(cores):
            paths = {"median_rate": 1000 * cores, "rates": [1000 * cores]}
            return {"cores": cores, "n_turns": 600 * mult,
                    "catalyst": paths, "python": paths}
        return lvl(n_lo), lvl(4 * n_lo), 1.0

    monkeypatch.setattr(scaling, "n_vs_4n", fake_n_vs_4n)
    for mult in (10, 20):
        monkeypatch.setattr(sys, "argv", ["scaling.py", "1", "sf", "--mult", str(mult)])
        scaling.main()
    text = (bench_root / "BENCH.md").read_text()
    assert text.count("## Scale-up evidence") == 1
    assert "(20× corpus, 12000 turns ≈ sf2.)" in text
    assert text.startswith(HEADER + A + B + C)
    assert _sections(bench_root)["scaling_efficiency_extract_scaleup"]["multiplier"] == 20


def test_sections_json_keeps_latest_record_per_metric(bench_root):
    harness.report({"metric": "m1", "v": 1}, "## One\n\nbody\n")
    harness.report({"metric": "m2", "v": 2}, "## Two\n\nbody\n")
    harness.report({"metric": "m1", "v": 3}, "## One\n\nbody again\n")
    assert _sections(bench_root) == {"m1": {"metric": "m1", "v": 3},
                                      "m2": {"metric": "m2", "v": 2}}


def level(cores, items):
    """A pure-Python stand-in for a Spark level: rate grows as √cores."""
    return {"cores": cores, "pid": os.getpid(),
            "stats": {"median_rate": items * cores ** 0.5}}


def failing_level(cores):
    raise RuntimeError(f"child failed at {cores} cores")


def test_n_vs_4n_runs_each_level_in_a_fresh_process():
    lo, hi, eff = harness.n_vs_4n(level, 2, "stats.median_rate", 100)
    assert (lo["cores"], hi["cores"]) == (2, 8)
    assert len({lo["pid"], hi["pid"], os.getpid()}) == 3
    assert eff == 0.5  # (100·√8 / 100·√2) / 4
    table = harness.scaling_table(lo, hi, eff, value="cores", trials="pid")
    assert "| local[2] | 2 |" in table and "| local[8] | 8 |" in table
    assert "**Scaling efficiency 2→8: 0.5**" in table


def test_fresh_jvm_surfaces_child_stderr(capsys):
    with pytest.raises(subprocess.CalledProcessError):
        harness.fresh_jvm(failing_level, 3)
    assert "child failed at 3 cores" in capsys.readouterr().err


def test_timed_median_min_and_last_output():
    calls = []
    t = harness.timed(lambda: calls.append(len(calls)) or len(calls), 3)
    assert len(calls) == 4 and t.out == 4  # one untimed warm call first
    assert len(t.runs) == 3 and t.min == min(t.runs)
    assert t.median == sorted(t.runs)[1]


def test_every_bench_script_imports_without_a_spark_context():
    mods = sorted("bench." + os.path.basename(p)[:-3]
                  for p in glob.glob(os.path.join(ROOT, "bench", "*.py"))
                  if not p.endswith("__init__.py"))
    code = ("import importlib\n"
            f"for m in {mods!r}:\n"
            "    importlib.import_module(m)\n"
            "from pyspark import SparkContext\n"
            "assert SparkContext._active_spark_context is None\n")
    run = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert run.returncode == 0, run.stderr[-4000:]
    assert len(mods) == 22
