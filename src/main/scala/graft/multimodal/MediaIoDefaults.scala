package graft.multimodal

/** One home for the ImageIO stream-cache switch. ImageIO's stream
  * wrappers default to a FILE-backed cache: every
  * `ImageIO.write(img, fmt, outputStream)` / `ImageIO.read(in)`
  * creates, fills, and deletes a temp file under java.io.tmpdir — one
  * disk round-trip PER ROW inside decode/encode UDFs, with per-row
  * cost floating with whatever else owns the disk (measured r15:
  * q_video_pixels stable at 1.32 s vs its 0.30 s idle anchor purely
  * from tmpfile latency drift). All media in this engine moves as
  * in-memory byte arrays of KBs; the memory cache is strictly better.
  *
  * NOTE this is a JVM-GLOBAL mutation: it also affects any unrelated
  * ImageIO user sharing the JVM (they lose the file-backed cache for
  * multi-hundred-MB images — not a workload this engine creates).
  * Centralized here so every ImageIO call site shares ONE switch:
  * [[ensure]] is called from inside each ImageIO-touching UDF body,
  * which forces this class to load (and the switch to flip) on the
  * EXECUTOR JVM too — an object-init in the UDF-defining module only
  * covers the driver, so an executor-side encode or decode UDF would
  * still pay the temp-file cache in a non-local deployment. */
object MediaIoDefaults {
  javax.imageio.ImageIO.setUseCache(false)

  /** No-op whose call forces class init (hence the switch) in the
    * calling JVM; negligible per-row cost after the first call. */
  def ensure(): Unit = ()
}
