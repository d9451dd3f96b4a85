package online_centrality_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, setting permissions in process.
 *
 * <p>Without Hadoop's native library, RawLocalFileSystem runs a {@code chmod}
 * process for every file and directory it creates: about nine for a
 * single-file parquet write. This subclass sets the same read, write and
 * execute bits through java.nio instead. The sticky, setuid and setgid bits
 * are not set; Spark's local writes do not ask for them.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** The raw filesystem below the checksums. */
  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ ... OTHERS_EXECUTE: mode bits 0400 ... 0001, in order
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      Set<PosixFilePermission> set = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          set.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), set);
    }
  }
}
