#!/usr/bin/env python3
"""Which jars of a class path a JVM actually loads classes from.

    python3 tools/jar_audit.py <classpath-file> <class-load-log>...

<classpath-file> holds one ':'-separated class path, as printed by
`sbt "export Runtime/fullClasspath"`. Each log is the output of a JVM run
with `-Xlog:class+load=info:file=<log>`; a `%p` in <log> gives each JVM its
own file, so `JAVA_TOOL_OPTIONS` can carry the flag into JVMs another
program starts (`sbt "set Test/javaOptions += ..."` does it for the
forked test JVM). For every jar on the class path
the tool prints the number of classes the logs show loaded from it and the
size of its zip central directory, which the JVM keeps on the heap for as
long as the jar is open. Jars with no loaded class come last, under
"unused", with their total; the summary line counts jars and
central-directory bytes on the whole class path.
"""
import os
import re
import struct
import sys
from collections import Counter

SOURCE = re.compile(r"\bsource: (?:jar:)?file:([^!\s]+\.jar)")


def central_directory_bytes(path):
    """Size of the zip central directory, read from the end-of-central-
    directory record (and its zip64 twin when the 32-bit field overflows)."""
    with open(path, "rb") as fh:
        fh.seek(0, 2)
        size = fh.tell()
        tail_len = min(size, 65536 + 22)
        fh.seek(size - tail_len)
        tail = fh.read()
        at = tail.rfind(b"PK\x05\x06")
        if at < 0:
            raise ValueError(f"{path}: no end-of-central-directory record")
        cd_size = struct.unpack_from("<I", tail, at + 12)[0]
        if cd_size == 0xFFFFFFFF:
            loc = tail.rfind(b"PK\x06\x07", 0, at)
            eocd64 = struct.unpack_from("<Q", tail, loc + 8)[0]
            fh.seek(eocd64)
            cd_size = struct.unpack_from("<Q", fh.read(56), 40)[0]
        return cd_size


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    with open(argv[1]) as fh:
        jars = [p for p in fh.read().strip().split(":") if p.endswith(".jar")]
    # the log names a jar by its real path; /opt/spark, say, may be a link
    real = {os.path.realpath(j): j for j in jars}
    loaded = Counter()
    for log in argv[2:]:
        with open(log, errors="replace") as fh:
            for line in fh:
                m = SOURCE.search(line)
                if m:
                    path = os.path.realpath(m.group(1))
                    loaded[real.get(path, path)] += 1
    rows = [(loaded[j], central_directory_bytes(j), j) for j in jars]
    used = sorted((r for r in rows if r[0]), key=lambda r: (-r[0], r[2]))
    unused = sorted((r for r in rows if not r[0]), key=lambda r: (-r[1], r[2]))
    print(f"{'classes':>8} {'cen_bytes':>10}  jar")
    for n, cen, jar in used:
        print(f"{n:>8} {cen:>10}  {jar}")
    print(f"unused: {len(unused)} jars, {sum(r[1] for r in unused)} central-directory bytes")
    for n, cen, jar in unused:
        print(f"{n:>8} {cen:>10}  {jar}")
    on_path = set(jars)
    elsewhere = sum(n for j, n in loaded.items() if j not in on_path)
    print(f"class path: {len(jars)} jars, {sum(r[1] for r in rows)} central-directory bytes; "
          f"{sum(r[0] for r in rows)} classes loaded from them, {elsewhere} from jars not on it")


if __name__ == "__main__":
    main(sys.argv)
