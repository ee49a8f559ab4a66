"""Environment-compat shims. Currently: the pure-Python protobuf
runtime subset (purepb/) that unblocks Spark's transformWithState
Python state client in containers without google.protobuf."""

from __future__ import annotations

import os
import sys

PUREPB_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "purepb")

# Set at the FIRST successful shim activation: was there a JVM yet?
# The answer at activation time decides worker reachability for the
# whole process (a JVM launched later inherits the env), and stashing
# it makes tws_runtime_available() independent of WHEN the registry
# happens to load relative to the first SparkSession — pytest subsets
# and the full suite must agree on the registry surface.
_ACTIVATED_PRE_JVM: bool | None = None


def _note_activation() -> None:
    global _ACTIVATED_PRE_JVM
    if _ACTIVATED_PRE_JVM is None:
        from pyspark import SparkContext

        _ACTIVATED_PRE_JVM = SparkContext._active_spark_context is None


def enable_protobuf_shim() -> bool:
    """Make ``google.protobuf`` importable via the pure-Python shim —
    ONLY when the real library is absent (never shadow a real
    install). Prepends the shim dir to BOTH this interpreter's
    ``sys.path`` and ``os.environ['PYTHONPATH']``; the latter matters
    because Spark's python workers (including the transformWithState
    state-server runner) are separate processes spawned by the JVM,
    which inherits the driver environment — so this must run BEFORE
    the SparkSession/JVM starts to reach them. Returns True when the
    shim (or a real protobuf) is importable afterwards."""
    try:
        import google.protobuf  # noqa: F401

        _note_activation()
        return True  # real library (or already-active shim): hands off
    except ImportError:
        pass
    if PUREPB_DIR not in sys.path:
        sys.path.insert(0, PUREPB_DIR)
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if PUREPB_DIR not in parts:
        os.environ["PYTHONPATH"] = (
            PUREPB_DIR + (os.pathsep + os.environ["PYTHONPATH"])
            if os.environ.get("PYTHONPATH")
            else PUREPB_DIR
        )
    try:
        import google.protobuf  # noqa: F401

        _note_activation()
        return True
    except ImportError:
        return False


def tws_runtime_available() -> bool:
    """True when ``transformWithStateInPandas`` can actually RUN from
    this process (VERDICT r9 ask #4's registration gate): the TWS
    state client needs ``google.protobuf`` importable not just here
    but in the JVM-SPAWNED state-server workers, which inherit the
    JVM's environment frozen at startup.

    - real protobuf install → importable everywhere → True;
    - purepb shim, no JVM yet → True if the shim dir is on the
      PYTHONPATH env var (the launching JVM inherits it);
    - purepb shim, JVM already running → True ONLY if that session
      was built with ``spark.executorEnv.PYTHONPATH`` carrying the
      shim dir (probed WORKING — tools/probe_tws_executorenv.py,
      round 10: the python workers receive executorEnv even in local
      mode). A shim activated any other way after JVM start is
      importable here but NOT in the workers (late env mutation and
      addPyFile both probed → worker crash) — refuse rather
      than register a query that dies executor-side."""
    try:
        import google.protobuf as gp
    except ImportError:
        return False
    if "rtba-shim" not in getattr(gp, "__version__", ""):
        return True  # real library: on site-packages, reaches workers
    if _ACTIVATED_PRE_JVM:
        # the shim landed on the env BEFORE any JVM existed in this
        # process — every JVM launched since (or later) inherits it,
        # so worker reachability holds no matter when the registry
        # loads relative to the first SparkSession (the paired-pytest
        # ordering trap)
        return True
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return PUREPB_DIR in os.environ.get("PYTHONPATH", "").split(
            os.pathsep
        )
    try:
        epath = sc.getConf().get("spark.executorEnv.PYTHONPATH", "") or ""
    except Exception:
        epath = ""
    return PUREPB_DIR in epath.split(os.pathsep)
