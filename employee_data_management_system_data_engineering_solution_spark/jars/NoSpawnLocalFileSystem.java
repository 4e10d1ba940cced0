package eds.hadoop;

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
 * Hadoop's checksummed local filesystem ({@code file://}) over a raw
 * filesystem that sets file permissions in-process.
 *
 * <p>Without the native library ({@code libhadoop}), the stock
 * {@link RawLocalFileSystem#setPermission} starts a {@code chmod}
 * process, and it runs after every file create and every mkdir. This
 * class changes only that call: it sets the same mode bits with
 * {@link Files#setPosixFilePermissions}. Checksums ({@code .crc}
 * files) are written and verified as by {@link LocalFileSystem}.
 */
public class NoSpawnLocalFileSystem extends LocalFileSystem {

  public NoSpawnLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with an in-process {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {

    /** Bit {@code i} of a mode is {@code PosixFilePermission.values()[8 - i]}. */
    private static final PosixFilePermission[] BY_ORDINAL = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      // sticky and setuid/setgid bits have no java.nio equivalent
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BY_ORDINAL[8 - i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        // not a POSIX filesystem
        super.setPermission(p, permission);
      }
    }
  }
}
