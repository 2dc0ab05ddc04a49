"""Smoke test of the benchmark at sf 0.001.

    python3 -m unittest discover -s perfbench/tests

Runs each workload of BENCHMARK.json briefly, end-to-end and traced, and
checks that every named metric is printed with its unit, that the input
generators are byte-identical for a given seed, and that the correctness
gate catches a planted wrong row.
"""
import hashlib
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gate  # noqa: E402
import gen  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, seed: int = 7):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def test_every_metric_is_printed_with_its_unit(self):
        for w in SPEC["workloads"]:
            shas = set()
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    lines, res = run(w["name"], trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[kind]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for v in res["metrics"].values():
                        self.assertIsInstance(v["value"], float)
                    shas |= {ln.split()[-1] for ln in lines if "generator sha256" in ln}
            # the stream generator's send plan is the same for a given seed
            self.assertLessEqual(len(shas), 1, shas)

    def test_table_generator_is_byte_identical_for_a_seed(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for sub, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen.write(Path(d) / sub, 0.001, seed)
                h = hashlib.sha256()
                for f in sorted((Path(d) / sub).iterdir()):
                    h.update(f.read_bytes())
                digests.append(h.hexdigest())
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])

    def test_gate_catches_a_planted_wrong_row(self):
        with tempfile.TemporaryDirectory() as d:
            data, out = Path(d) / "data", Path(d) / "out"
            gen.write(data, 0.001, 5)
            sql = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"
            out.mkdir()
            (out / "oracle_sql.json").write_text(json.dumps({"q": sql}))
            con = duckdb.connect()
            right = con.execute(sql.replace("FROM events", f"FROM '{data / 'events.parquet'}'")).df()
            right.to_parquet(out / "q")
            self.assertEqual(gate.mismatches(data, out, ["q"]), {})
            wrong = right.copy()
            wrong.loc[0, "n"] += 1
            wrong.to_parquet(out / "q")
            self.assertIn("q", gate.mismatches(data, out, ["q"]))


if __name__ == "__main__":
    unittest.main()
