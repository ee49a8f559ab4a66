"""Count the child processes a command forks through the coreutils that
Hadoop's ``Shell`` execs when its native library is not loaded.

    python tools/count_spawns.py [--] command [args...]

``chmod``, ``readlink``, ``stat``, ``ls`` and ``getconf`` are shadowed by
logging wrappers put first on ``PATH``; each wrapper records its name and
first argument, then execs the real binary. When the command ends, the
counts by command and first argument (an argument holding a ``/`` reads
``<path>``) go to stdout. The exit code is the command's.
"""

from __future__ import annotations

import collections
import os
import shlex
import shutil
import subprocess
import sys
import tempfile

COMMANDS = ("chmod", "readlink", "stat", "ls", "getconf")


def main(argv: list[str]) -> int:
    argv = argv[1:] if argv[:1] == ["--"] else argv
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    counts: collections.Counter = collections.Counter()
    with tempfile.TemporaryDirectory(prefix="rtba_spawns_") as wrap:
        log = os.path.join(wrap, "spawns.log")
        for name in COMMANDS:
            real = shutil.which(name)
            if real is None:
                continue
            script = os.path.join(wrap, name)
            with open(script, "w") as f:
                f.write(f'#!/bin/sh\nprintf "%s\\t%s\\n" {name} "$1" >> {shlex.quote(log)}\n'
                        f'exec {shlex.quote(real)} "$@"\n')
            os.chmod(script, 0o755)
        env = dict(os.environ, PATH=wrap + os.pathsep + os.environ.get("PATH", ""))
        rc = subprocess.call(argv, env=env)
        if os.path.exists(log):
            with open(log) as f:
                for line in f:
                    name, _, arg = line.rstrip("\n").partition("\t")
                    counts[name, "<path>" if "/" in arg else arg] += 1
    for (name, arg), n in sorted(counts.items()):
        print(f"{n:8d}  {name} {arg}")
    print(f"{sum(counts.values()):8d}  total")
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
