"""Tests of the runner's lag bookkeeping.

Run with: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class FileBatchesTest(unittest.TestCase):
    def test_source_offsets_skip_no_data_batches(self):
        # query batch 1 is a no-data batch: the source log's offset 1
        # belongs to query batch 2, offset 2 to query batch 3
        with tempfile.TemporaryDirectory() as d:
            log = Path(d) / "sources" / "0"
            log.mkdir(parents=True)
            for offset, names in ((0, ["a", "b"]), (1, ["c"]), (2, ["d"])):
                lines = ["v1"] + [json.dumps({"path": f"file:///x/{n}", "timestamp": 0,
                                              "batchId": offset}) for n in names]
                (log / str(offset)).write_text("\n".join(lines) + "\n")
            (log / ".0.crc").write_text("junk")
            batches = [{"batch": 0, "source_end": 0}, {"batch": 1, "source_end": 0},
                       {"batch": 2, "source_end": 1}, {"batch": 3, "source_end": 2}]
            self.assertEqual(run.file_batches(d, batches),
                             {"a": 0, "b": 0, "c": 2, "d": 3})

    def test_quantile_interpolates(self):
        self.assertEqual(run.quantile([], 0.5), 0.0)
        self.assertEqual(run.quantile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(run.quantile([0, 10], 0.95), 9.5)


if __name__ == "__main__":
    unittest.main()
