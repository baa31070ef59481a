"""Share of executor-thread CPU samples per area of a graft run, from a
JDK Flight Recorder file.

Usage: python3 tools/jfr_breakdown.py <file.jfr>

Runs `jfr print --stack-depth 64 --events jdk.ExecutionSample,jdk.ProcessStart`
on the file (the `jfr` tool of the JDK on PATH) and counts only the samples of
Spark executor task threads ("Executor task launch worker ..."), so the
driver, the listener bus and GC threads do not dilute the shares. Each
sample goes to the area of its innermost recognized frame; frames of no
area (the JDK, compression codecs, Scala collections) pass the sample
on to their caller. A sample with no recognized frame in its 64
innermost frames counts as "other". Prints one line per area with its
sample count and share of all executor samples.

It then summarizes the jdk.ProcessStart events of the same file: the
processes the JVM forked, counted by command word (the program's file
name, such as `chmod`) and by thread kind ("executor" for task threads,
else the thread's name without its numbers). Hadoop's local file system
forks `chmod` to set the permissions of each file it creates where no
native libhadoop is loaded, so a write that opens many part files shows
here.
"""
import collections
import os
import re
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


def process_starts(text):
    """Yields (thread line, command) per jdk.ProcessStart event of `jfr
    print` output."""
    thread, command, in_event, in_stack = None, None, False, False
    for raw in text.splitlines():
        line = raw.strip()
        if line.startswith("jdk.ProcessStart {"):
            thread, command, in_event, in_stack = "", "", True, False
        elif not in_event:
            continue
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack:
            in_stack = line != "]"
        elif line.startswith("eventThread ="):
            thread = line
        elif line.startswith("command ="):
            command = line[len("command ="):].strip().strip('"')
        elif line == "}":
            yield thread, command
            in_event = False


def thread_kind(thread):
    """"executor" for a Spark task thread, else the thread's quoted name
    without its digits and what trails its last letter ("main",
    "shuffle-server")."""
    if EXECUTOR_THREAD in thread:
        return "executor"
    m = re.search(r'"([^"]*)"', thread)
    return re.sub(r"[^A-Za-z]+$", "", re.sub(r"\d+", "", m.group(1) if m else "")) or "unknown"


def process_summary(text):
    """(forked processes, Counter of command word, Counter of thread kind)."""
    words, kinds = collections.Counter(), collections.Counter()
    for thread, command in process_starts(text):
        words[os.path.basename(command.split(" ", 1)[0]) or "unknown"] += 1
        kinds[thread_kind(thread)] += 1
    return sum(words.values()), words, kinds


def process_report(total, words, kinds):
    width = max([16] + [len(name) for name in list(words) + list(kinds)])
    lines = [f"process starts: {total}"]
    for label, counts in (("command", words), ("thread ", kinds)):
        lines += [f"  {label} {name:<{width}} {n:>7}"
                  for name, n in sorted(counts.items(), key=lambda x: (-x[1], x[0]))]
    return "\n".join(lines)


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
    text = subprocess.run(["jfr", "print", "--stack-depth", "64", "--events",
                           "jdk.ExecutionSample,jdk.ProcessStart", argv[1]],
                          stdout=subprocess.PIPE, text=True, check=True).stdout
    print(report(*breakdown(text)))
    print(process_report(*process_summary(text)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
