"""Share of executor-thread CPU samples per area of a graft run, from a
JDK Flight Recorder file.

Usage: python3 tools/jfr_breakdown.py <file.jfr>

Runs `jfr print --stack-depth 64 --events jdk.ExecutionSample` on the
file (the `jfr` tool of the JDK on PATH) and counts only the samples of
Spark executor task threads ("Executor task launch worker ..."), so the
driver, the listener bus and GC threads do not dilute the shares. Each
sample goes to the area of its innermost recognized frame; frames of no
area (the JDK, compression codecs, Scala collections) pass the sample
on to their caller. A sample with no recognized frame in its 64
innermost frames counts as "other". Prints one line per area with its
sample count and share of all executor samples.
"""
import collections
import subprocess
import sys

# (area, frame prefixes), in print order. ReprojectOp's srcIdx computes a
# tile's source indices; where it loops over the pixels itself, JFR gives
# the samples of the transform inlined into it to srcIdx, so it counts as
# graft.geom
AREAS = [
    ("graft.geom", ("graft.geom.", "graft.ops.ReprojectOp$.srcIdx")),
    ("Interp", ("graft.kernel.Interp", "graft.kernel.Window.get")),
    ("window assembly", ("graft.ops.TileGather", "graft.kernel.Window")),
    ("parquet", ("org.apache.parquet.", "org.apache.spark.sql.execution.datasources.parquet.")),
    ("shuffle", ("org.apache.spark.shuffle.", "org.apache.spark.storage.",
                 "org.apache.spark.network.", "org.apache.spark.util.collection.",
                 "org.apache.spark.serializer.")),
    ("row encode/decode", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",
                           "org.apache.spark.sql.catalyst.expressions.UnsafeRow",
                           "org.apache.spark.sql.catalyst.expressions.codegen.",
                           "org.apache.spark.sql.catalyst.encoders.",
                           "org.apache.spark.sql.catalyst.util.")),
]
OTHER = "other"
EXECUTOR_THREAD = '"Executor task launch worker'


def area_of(frame):
    """The area a frame belongs to, or None."""
    for name, prefixes in AREAS:
        if frame.startswith(prefixes):
            return name
    return None


def samples(text):
    """Yields (thread line, [frames innermost first]) per
    jdk.ExecutionSample event of `jfr print` output."""
    thread, frames, in_stack = None, None, False
    for raw in text.splitlines():
        line = raw.strip()
        if line.startswith("jdk.ExecutionSample {"):
            thread, frames, in_stack = "", [], False
        elif frames is None:
            continue
        elif line.startswith("sampledThread ="):
            thread = line
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line != "...":
            frames.append(line)
        elif line == "}" and not in_stack:
            yield thread, frames
            thread, frames = None, None


def breakdown(text):
    """(executor samples, Counter of area -> samples)."""
    counts = collections.Counter()
    total = 0
    for thread, frames in samples(text):
        if EXECUTOR_THREAD not in thread:
            continue
        total += 1
        counts[next((a for a in map(area_of, frames) if a), OTHER)] += 1
    return total, counts


def report(total, counts):
    lines = [f"executor samples: {total}"]
    for name in [a for a, _ in AREAS] + [OTHER]:
        n = counts.get(name, 0)
        share = 100.0 * n / total if total else 0.0
        lines.append(f"{name:<18} {n:>7} {share:6.1f}%")
    return "\n".join(lines)


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    text = subprocess.run(["jfr", "print", "--stack-depth", "64", "--events", "jdk.ExecutionSample",
                           argv[1]], stdout=subprocess.PIPE, text=True, check=True).stdout
    print(report(*breakdown(text)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
