"""Tests of tools/jfr_breakdown.py on a canned `jfr print` snippet.

Run: python3 -m unittest discover -s tools
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jfr_breakdown  # noqa: E402

WORKER = '"Executor task launch worker for task 1.0 in stage 3.0 (TID 12)" (javaThreadId = 71)'


def event(thread, frames, truncated=False):
    lines = ["jdk.ExecutionSample {",
             "  startTime = 13:50:12.345 (2026-10-20)",
             f"  sampledThread = {thread}",
             '  state = "STATE_RUNNABLE"',
             "  stackTrace = ["]
    lines += [f"    {f}" for f in frames]
    if truncated:
        lines.append("    ...")
    lines += ["  ]", "}", ""]
    return "\n".join(lines)


SNIPPET = "\n".join([
    # the transform, under the reproject kernel
    event(WORKER, ["java.lang.StrictMath.atan2(double, double) line: 0",
                   "graft.geom.Crs$TransverseMercator.toLonLat(double, double) line: 417",
                   "graft.geom.CrsTransformer.transformPoint(double, double) line: 1681",
                   "graft.ops.ReprojectOp$.$anonfun$reproject$3(int, int) line: 80"]),
    event(WORKER, ["graft.geom.IndexLattice$.atStep(int, int, int, graft.geom.IndexLattice$Exact) line: 1840",
                   "graft.ops.ReprojectOp$.$anonfun$reproject$3(int, int) line: 80"]),
    # a per-pixel loop in srcIdx with the transform inlined: transform too
    event(WORKER, ["graft.ops.ReprojectOp$.srcIdx$lzycompute$1(scala.runtime.LazyRef, int, int) line: 97",
                   "graft.ops.TileGather$.$anonfun$gatherWithWindows$5(int, int) line: 160"]),
    # a sampler: Window.get inside Interp is interpolation
    event(WORKER, ["graft.kernel.Window.get(int, int, double) line: 17",
                   "graft.kernel.Interp$.bilinear(graft.kernel.Window, double, double, double) line: 95",
                   "graft.kernel.Interp$.sampleAll(graft.kernel.Window, double[], double[], int, double) line: 40"]),
    # window assembly
    event(WORKER, ["java.lang.System.arraycopy(java.lang.Object, int, java.lang.Object, int, int) line: 0",
                   "graft.ops.TileGather$.assemble(scala.collection.Iterator) line: 300"]),
    # parquet under a compression codec: the codec passes it on
    event(WORKER, ["org.xerial.snappy.SnappyNative.rawCompress(long, long, long, long) line: 0",
                   "org.apache.parquet.hadoop.CodecFactory$HeapBytesCompressor.compress(org.apache.parquet.bytes.BytesInput) line: 168",
                   "org.apache.spark.sql.execution.datasources.FileFormatWriter$.executeTask() line: 400"]),
    # shuffle write
    event(WORKER, ["net.jpountz.lz4.LZ4BlockOutputStream.write(byte[], int, int) line: 0",
                   "org.apache.spark.shuffle.sort.BypassMergeSortShuffleWriter.write(scala.collection.Iterator) line: 180"]),
    # row encode/decode
    event(WORKER, ["org.apache.spark.sql.catalyst.expressions.GeneratedClass$SpecificUnsafeProjection.apply(java.lang.Object) line: 0",
                   "org.apache.spark.sql.execution.MapPartitionsExec.$anonfun$doExecute$3(scala.Function1, scala.collection.Iterator) line: 200"]),
    # nothing recognized in a truncated stack
    event(WORKER, ["java.io.ObjectInputStream.readObject() line: 460",
                   "org.apache.spark.executor.Executor$TaskRunner.run() line: 620"], truncated=True),
    # not an executor thread: not counted
    event('"main" (javaThreadId = 1)', ["graft.geom.Crs$TransverseMercator.toLonLat(double, double) line: 417"]),
    event('"Executor task launch worker for task 2.0 in stage 3.0 (TID 13)" (javaThreadId = 72)',
          ["graft.geom.Crs$LambertAzimuthalEqualArea.fromLonLat(double, double) line: 690"]),
    # another event type interleaved in the output is skipped
    "jdk.GCPhasePause {\n  startTime = 13:50:12.400 (2026-10-20)\n  name = \"GC Pause\"\n}\n",
])


def process_start(thread, command):
    return "\n".join([
        "jdk.ProcessStart {",
        "  startTime = 13:50:13.001 (2026-10-20)",
        "  pid = 4242",
        "  directory = N/A",
        f'  command = "{command}"',
        f"  eventThread = {thread}",
        "  stackTrace = [",
        "    java.lang.ProcessBuilder.start() line: 1073",
        "    org.apache.hadoop.util.Shell.runCommand() line: 998",
        "    ...",
        "  ]",
        "}",
        ""])


# a partitioned write without libhadoop: each part file, its directory
# and its .crc fork chmod on the task thread; the driver forks one more
PROCESSES = "\n".join([
    process_start(WORKER, "chmod 755 /tmp/out/tiles/_temporary/0/_temporary/attempt_1/tj=0"),
    process_start(WORKER, "chmod 644 /tmp/out/tiles/_temporary/0/_temporary/attempt_1/tj=0/part-00000.parquet"),
    process_start('"Executor task launch worker for task 2.0 in stage 3.0 (TID 13)" (javaThreadId = 72)',
                  "/bin/chmod 644 /tmp/out/tiles/tj=0/.part-00001.parquet.crc"),
    process_start('"main" (javaThreadId = 1)', "/bin/ls -ld /tmp/out"),
    process_start('"shuffle-server-3-1" (javaThreadId = 90)', "chmod 600 /tmp/x"),
    # an execution sample in between is not a process start
    event(WORKER, ["graft.geom.IndexLattice$.atStep(int, int, int, graft.geom.IndexLattice$Exact) line: 1840"]),
])


class JfrBreakdownTest(unittest.TestCase):
    def test_process_starts_by_command_word_and_thread_kind(self):
        total, words, kinds = jfr_breakdown.process_summary(PROCESSES)
        self.assertEqual(total, 5)
        self.assertEqual(dict(words), {"chmod": 4, "ls": 1})
        self.assertEqual(dict(kinds), {"executor": 3, "main": 1, "shuffle-server": 1})
        lines = jfr_breakdown.process_report(total, words, kinds).splitlines()
        self.assertEqual(lines[0], "process starts: 5")
        self.assertEqual(lines[1].split(), ["command", "chmod", "4"])
        self.assertEqual(lines[3].split(), ["thread", "executor", "3"])

    def test_process_starts_ignore_samples(self):
        self.assertEqual(jfr_breakdown.process_summary(SNIPPET)[0], 0)
        self.assertEqual(jfr_breakdown.breakdown(PROCESSES)[0], 1)

    def test_innermost_recognized_frame_decides_on_executor_threads_only(self):
        total, counts = jfr_breakdown.breakdown(SNIPPET)
        self.assertEqual(total, 10)
        self.assertEqual(dict(counts), {
            "graft.geom": 4, "Interp": 1, "window assembly": 1, "parquet": 1,
            "shuffle": 1, "row encode/decode": 1, "other": 1})

    def test_report_lists_every_area_with_its_share(self):
        text = jfr_breakdown.report(*jfr_breakdown.breakdown(SNIPPET))
        lines = text.splitlines()
        self.assertEqual(lines[0], "executor samples: 10")
        self.assertEqual([ln.split("  ")[0] for ln in lines[1:]],
                         ["graft.geom", "Interp", "window assembly", "parquet", "shuffle",
                          "row encode/decode", "other"])
        self.assertIn("40.0%", lines[1])

    def test_empty_input(self):
        total, counts = jfr_breakdown.breakdown("")
        self.assertEqual((total, sum(counts.values())), (0, 0))
        self.assertIn("0.0%", jfr_breakdown.report(total, counts))


if __name__ == "__main__":
    unittest.main()
