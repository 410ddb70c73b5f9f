package graft.format;

/**
 * Bit-unpacking kernel for {@link Bitpack#unpack}: reads the packed
 * little-endian u64 words in place from the chunk's byte array through a
 * byte-array VarHandle view, so a decode allocates no word array (the
 * alternative, one bounds-checked {@code ByteBuffer.getLong} per word into
 * a fresh {@code long[]}, cost 8 bytes per word of garbage per chunk).
 * Plain Java for the same reason as {@link FsstVectorKernel}: the view's
 * {@code get} compiles to the raw intrinsic here, while the Scala 2.13
 * call boxes.
 */
public final class BitpackKernel {
  private BitpackKernel() {}

  private static final java.lang.invoke.VarHandle LONG =
      java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
          long[].class, java.nio.ByteOrder.LITTLE_ENDIAN);

  private static long word(byte[] src, int off, int w) {
    return (long) LONG.get(src, off + (w << 3));
  }

  /**
   * Unpack {@code count} width-bit values (no sign extension) from the
   * words starting at {@code src[off]} into {@code out[0, count)}. The
   * caller has checked that {@code ceil(count * width / 64)} words lie
   * inside its slice; {@code 0 < width <= 64}.
   */
  public static void unpack(byte[] src, int off, int count, int width, long[] out) {
    final long m = width >= 64 ? -1L : (1L << width) - 1L;
    if (64 % width == 0) {
      // aligned widths (1/2/4/8/16/32/64): no value straddles a word —
      // one word load feeds 64/width values with shift-only extraction,
      // no multiply, no straddle branch (the scalar shape of the
      // reference's unrolled per-width kernels)
      final int per = 64 / width;
      int i = 0;
      int w = 0;
      while (i + per <= count) {
        long v = word(src, off, w++);
        for (int j = 0; j < per; j++) {
          out[i + j] = v & m;
          v >>>= width;
        }
        i += per;
      }
      if (i < count) {
        long v = word(src, off, w);
        while (i < count) {
          out[i++] = v & m;
          v >>>= width;
        }
      }
    } else {
      // general widths: running word/offset cursors instead of per-value
      // 64-bit multiply + div/mod
      int w = 0;
      int shift = 0;
      long cur = count > 0 ? word(src, off, 0) : 0L;
      for (int i = 0; i < count; i++) {
        long v = cur >>> shift;
        int end = shift + width;
        if (end >= 64) {
          w++;
          // the straddling value's high bits come from the next word; a
          // value ending exactly on the boundary loads it for the next
          // value (the last word is never read past the packed length)
          if (end > 64 || i + 1 < count) cur = word(src, off, w);
          if (end > 64) v |= cur << (64 - shift);
          shift = end - 64;
        } else {
          shift = end;
        }
        out[i] = v & m;
      }
    }
  }
}
