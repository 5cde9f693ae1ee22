package graft.mesh

/** Retired shadow counter for shared temp-view names. Mesh queries now bind
  * their entities per query ([[EntityPlan]]) and nothing in graft reads
  * this object; `noteShadow()` is a no-op kept only for callers outside
  * the library that still call it after registering a view. */
object ViewEpoch {
  def noteShadow(): Unit = ()
}
