package mtdp.fs;

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
 * Hadoop's checksummed local file system, except that permissions are set
 * in-process. Without libhadoop, RawLocalFileSystem.setPermission forks a
 * chmod for every new directory, file and .crc. Raw sets the same nine mode
 * bits through java.nio instead. The sticky bit, a set-id bit already on the
 * target (a numeric chmod keeps a directory's) and a file store without POSIX
 * attributes go down the stock path.
 */
public class InProcessPermsLocalFileSystem extends LocalFileSystem {
  public InProcessPermsLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path target = pathToFile(p).toPath();
      short mode = permission.toShort();
      try {
        if ((mode & 01000) == 0 && ((Integer) Files.getAttribute(target, "unix:mode") & 06000) == 0) {
          Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
          for (PosixFilePermission b : PosixFilePermission.values()) {
            if ((mode & (0400 >> b.ordinal())) != 0) {
              bits.add(b);
            }
          }
          Files.setPosixFilePermissions(target, bits);
          return;
        }
      } catch (UnsupportedOperationException | IllegalArgumentException e) {
        // no unix attribute view on this file store
      }
      super.setPermission(p, permission);
    }
  }
}
