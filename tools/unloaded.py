"""List the engine's compiled classes that a set of JVM runs never loaded.

    JAVA_TOOL_OPTIONS=-Xlog:class+load:file=/tmp/cl-%p.log sbt "testOnly *"
    python3 tools/unloaded.py target/scala-2.13/classes /tmp/cl-*.log

Arguments are class directories (walked for *.class files) and
`-Xlog:class+load` logs, in any order. Only classes under `graft.` and
`org.apache.spark.sql.graft.` are considered. The output lists, per
top-level class, the nested classes that never loaded; a top-level class
none of whose classes loaded is marked `(entire)`. An object's module
class (`X$`) and its mirror class (`X`) count as one: code that calls the
module never loads the mirror. These are candidates for deletion, not
proof of dead code: a class may serve a path that no logged run
exercised.
"""
import os
import re
import sys

PREFIXES = ("graft.", "org.apache.spark.sql.graft.")
# `[0.512s][info][class,load] graft.lake.LakeTable source: file:/...`
LOADED = re.compile(r"\[class,load\]\s+(\S+)\s")


def unit(name):
    return name[:-1] if name.endswith("$") else name


def compiled(root):
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".class"):
                rel = os.path.relpath(os.path.join(d, f), root)
                name = rel[: -len(".class")].replace(os.sep, ".")
                if name.startswith(PREFIXES):
                    yield unit(name)


def loaded(log):
    with open(log, errors="replace") as fh:
        for line in fh:
            m = LOADED.search(line)
            if m and m.group(1).startswith(PREFIXES):
                yield unit(m.group(1))


def main(argv):
    dirs = [p for p in argv if os.path.isdir(p)]
    logs = [p for p in argv if os.path.isfile(p)]
    if not dirs or not logs:
        print(__doc__, file=sys.stderr)
        return 2
    classes = {c for d in dirs for c in compiled(d)}
    seen = {c for log in logs for c in loaded(log)}
    groups = {}
    for c in classes:
        groups.setdefault(c.split("$", 1)[0], []).append(c)
    n_unloaded = 0
    for top in sorted(groups):
        members = groups[top]
        missing = sorted(c for c in members if c not in seen)
        n_unloaded += len(missing)
        if not missing:
            continue
        if len(missing) == len(members):
            print(f"{top} (entire)")
        else:
            print(top)
            for c in missing:
                print(f"  {c}")
    print(f"# {len(classes)} classes, {len(classes) - n_unloaded} loaded, "
          f"{n_unloaded} never loaded, {len(logs)} logs", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
