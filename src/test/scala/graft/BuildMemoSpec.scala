package graft

import scala.collection.concurrent.TrieMap

/** `SparkEntry.invalidateBuildMemos()` is a hand-kept list; this spec
  * finds every `TrieMap` memo field of `SparkEntry` by reflection, so a
  * memo added without its `clear()` fails here instead of serving a
  * stale index after an in-process rewrite of its data directory. */
class BuildMemoSpec extends SparkSpec {

  test("invalidateBuildMemos clears every TrieMap build memo of SparkEntry") {
    val memos = SparkEntry.getClass.getDeclaredFields.toSeq
      .filter(f => classOf[TrieMap[_, _]].isAssignableFrom(f.getType))
      .map { f => f.setAccessible(true); f.getName -> f.get(SparkEntry).asInstanceOf[TrieMap[Any, Any]] }
    assert(memos.size >= 20, memos.map(_._1))
    val probe = (spark, "/nonexistent/build-memo-probe")
    memos.foreach { case (_, m) => m.put(probe, "stale") }
    SparkEntry.invalidateBuildMemos()
    val stale = memos.collect { case (name, m) if m.nonEmpty => name }
    assert(stale.isEmpty, s"not cleared by invalidateBuildMemos: ${stale.mkString(", ")}")
  }
}
