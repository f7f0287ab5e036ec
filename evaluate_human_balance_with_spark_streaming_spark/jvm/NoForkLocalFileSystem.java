package stedi.spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem with an in-process setPermission.
 * Without a native libhadoop, RawLocalFileSystem forks the chmod command
 * for every file it creates (each .crc included) and every directory it
 * makes; this one calls chmod(2) through java.nio instead.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission perm) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      // The sticky bit has no rwx form, and a 4-digit chmod keeps a
      // directory's setuid/setgid bits: both take the stock path.
      int mode = (Integer) Files.getAttribute(file, "unix:mode");
      if (perm.getStickyBit() || (mode & 06000) != 0) {
        super.setPermission(p, perm);
        return;
      }
      Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(perm.toString()));
    }
  }
}
