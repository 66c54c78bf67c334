#!/usr/bin/env python3
"""Split a JFR recording's large allocations by where they were made.

Usage: python3 tools/humongous.py <recording.jfr> [min_bytes]

Reads the recording's jdk.ObjectAllocationOutsideTLAB events (record them
with tools/humongous.jfc) through the JDK's `jfr` tool and prints the
allocations of at least min_bytes (default 512 KiB, half of G1's 1 MiB
region, so every one of them is humongous at heaps up to 2 GiB), grouped by
their top three frames outside the JDK's own packages (lambda and adapter
frames skipped), largest group first, as MB and count.
"""
import collections
import json
import signal
import subprocess
import sys

JDK_PACKAGES = ("java.", "javax.", "jdk.", "sun.", "com.sun.")


def frame_name(frame):
    m = frame["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def site(stack):
    frames = [frame_name(f) for f in (stack or {}).get("frames", [])]
    own = [f for f in frames
           if not f.startswith(JDK_PACKAGES) and "$$Lambda" not in f and not f.endswith("$adapted")]
    return " < ".join(own[:3]) or " < ".join(frames[:3]) or "(no stack)"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    min_bytes = int(sys.argv[2]) if len(sys.argv) == 3 else 512 * 1024
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ObjectAllocationOutsideTLAB",
                          sys.argv[1]], check=True, capture_output=True, text=True).stdout
    groups = collections.defaultdict(lambda: [0, 0])
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        if v["allocationSize"] >= min_bytes:
            g = groups[site(v.get("stackTrace"))]
            g[0] += v["allocationSize"]
            g[1] += 1
    total_b = sum(b for b, _ in groups.values())
    total_n = sum(n for _, n in groups.values())
    print(f"{total_b / 1e6:10.1f} MB {total_n:7d}  allocations of >= {min_bytes} bytes")
    for key, (b, n) in sorted(groups.items(), key=lambda kv: -kv[1][0]):
        print(f"{b / 1e6:10.1f} MB {n:7d}  {key}")


if __name__ == "__main__":
    # die quietly, as other filters do, when a reader such as `head` exits
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    main()
