"""Registry query plumbing that needs no Spark session."""

import os
import subprocess
import sys


def test_roundtrip_dirs_are_removed_at_exit(tmp_path):
    """Round-trip queries write under one per-process root, and the root is
    gone once the interpreter exits."""
    code = (
        "import os\n"
        "from samza_spark import queries\n"
        "d = queries._roundtrip_dir('ss_csv_q_')\n"
        "assert os.path.isdir(d) and queries._roundtrip_dir('ss_orc_q_') != d\n"
        "print(os.path.dirname(d))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
