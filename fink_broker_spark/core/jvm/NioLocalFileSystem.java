package fink_broker_spark.core.jvm;

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
 * Hadoop's checksummed local file system over {@link Raw}.
 *
 * <p>Without libhadoop (the pip PySpark wheel ships none),
 * RawLocalFileSystem.setPermission forks a {@code chmod} for every
 * directory, data file and checksum file a write creates. Raw applies the
 * same, already-umasked bits in-process through java.nio instead.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Refuses to replace an existing file, as the FileSystem contract asks.
   * With fs.file.impl unset, PySpark's service loader may resolve the file
   * scheme to Hive's ProxyLocalFileSystem, whose one change is this rule.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** RawLocalFileSystem whose only change is how permissions are set. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      // java.nio has no sticky bit: that case stays with Hadoop's own code,
      // as does a file store without POSIX attributes
      if (!permission.getStickyBit()) {
        try {
          Files.setPosixFilePermissions(
              pathToFile(p).toPath(), posix(permission.toShort()));
          return;
        } catch (UnsupportedOperationException e) {
          // fall through
        }
      }
      super.setPermission(p, permission);
    }

    /** The rwx bits of {@code mode}; PosixFilePermission lists them
     *  owner-read first, i.e. from bit 8 down to bit 0. */
    static Set<PosixFilePermission> posix(short mode) {
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      return bits;
    }
  }
}
