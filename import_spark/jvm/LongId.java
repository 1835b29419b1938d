package import_spark.jvm;

import com.google.common.hash.HashFunction;
import com.google.common.hash.Hashing;
import java.nio.charset.StandardCharsets;
import org.apache.spark.sql.api.java.UDF1;

/**
 * FarmHash Fingerprint64 of a key string's UTF-8 bytes, as the Data Commons
 * base32 long id (DcidGenerator.java:29-36,354-375; the Python spec is
 * import_spark/functions/farmhash.py:long_id). Null in, null out.
 */
public final class LongId implements UDF1<String, String> {
  private static final HashFunction FARMHASH = Hashing.farmHashFingerprint64();
  private static final char[] ALPHABET = "0123456789bcdfghjklmnpqrstvwxyze".toCharArray();

  @Override
  public String call(String key) {
    if (key == null) {
      return null;
    }
    long fp = FARMHASH.hashString(key, StandardCharsets.UTF_8).asLong();
    // 5 bits at a time, low bits first, until the unsigned value is zero
    StringBuilder out = new StringBuilder(13);
    do {
      out.append(ALPHABET[(int) (fp & 0x1F)]);
      fp >>>= 5;
    } while (fp != 0);
    return out.toString();
  }
}
