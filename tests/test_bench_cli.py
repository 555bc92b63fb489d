"""bench.py's probe mode rejects unknown seat names before Spark starts."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_only_rejects_unknown_seat_without_a_jvm():
    # JAVA_HOME points nowhere: a JVM launch would fail with a java error
    # instead of naming the seat
    env = dict(os.environ, JAVA_HOME="/nonexistent")
    out = subprocess.run(
        [sys.executable, "bench.py", "--only", "no_such_seat",
         "pq_topk_embeddings"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert "unknown seat(s): no_such_seat" in out.stderr
    assert out.stdout == ""
