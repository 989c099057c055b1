package perfbench

import java.io.File

/** The benchmark's own tests, on `Sizes.Tiny` inputs:
  *  1. the same seed writes byte-identical inputs, another seed does not;
  *  2. a real iteration of each workload passes its check;
  *  3. every deliberate corruption of that result fails the check;
  *  4. a closed loop whose results are corrupted counts every iteration
  *     as failed and keeps none of their times as samples.
  * Returns the process exit code: 0 only if everything holds. */
object SelfTest {
  def run(root: File): Int = {
    val work = new File(root, "selftest")
    ParquetOut.deleteTree(work.toPath)
    work.mkdirs()
    val spark = Session.start(work)
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $what")
      if (!ok) failures += 1
    }
    Workload.Names.foreach { name =>
      def gen(tag: String, seed: Long) =
        Workload.generate(name, spark, new File(work, tag), seed, Sizes.Tiny)
      val a = gen("a", 7L)
      val b = gen("b", 7L)
      val c = gen("c", 8L)
      val da = ParquetOut.digest(a.inputs.dir)
      expect(da == ParquetOut.digest(b.inputs.dir), s"$name: same seed, identical input bytes")
      expect(da != ParquetOut.digest(c.inputs.dir), s"$name: other seed, other input bytes")

      val res = a.read(spark, a.run(spark, work))
      val v = a.check(res)
      expect(v.ok, s"$name: real iteration passes its check ${v.failures.mkString("; ")}")
      a.corruptions.foreach { case (label, corrupt) =>
        expect(!a.check(corrupt(res)).ok, s"$name: corrupted result ($label) fails the check")
      }
      val corrupt = a.corruptions.head._2
      val st = Loop.run(spark, a, work, seconds = 0, minIters = 2)(corrupt)
      expect(st.attempted == 2 && st.failed == 2 && st.times.isEmpty,
        s"$name: corrupted iterations count as failed and are not timed " +
          s"(attempted=${st.attempted} failed=${st.failed} samples=${st.times.size})")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
    println(if (failures == 0) "selftest: all checks hold" else s"selftest: $failures FAILED")
    if (failures == 0) 0 else 1
  }
}
