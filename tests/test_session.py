"""engine.session exports NUMPY_MADVISE_HUGEPAGE=0 when it is
imported, before pyspark pulls in numpy, so the driver process's
numpy reads it even if no session is ever built."""
import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_import_disables_numpy_hugepage_madvise():
    env = {k: v for k, v in os.environ.items()
           if k != "NUMPY_MADVISE_HUGEPAGE"}
    code = ("import os, engine.session\n"
            "from numpy._core import multiarray\n"
            "assert os.environ['NUMPY_MADVISE_HUGEPAGE'] == '0'\n"
            "assert multiarray._get_madvise_hugepage() is False\n")
    subprocess.run([sys.executable, "-c", code], cwd=_ROOT, env=env,
                   check=True)
