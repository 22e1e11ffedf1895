package sparkgraft.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * The checksummed local {@code file:} file system, setting permissions
 * without a child process.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} runs
 * {@code chmod} as a child process, once for every file, {@code .crc}
 * sidecar and directory Hadoop creates. The raw layer here makes the
 * same {@code chmod(2)} call through {@code java.nio}. It falls back to
 * the stock call when libhadoop is loaded (that path forks nothing) and
 * for a sticky, setuid or setgid bit, which {@code java.nio} cannot set.
 *
 * <p>{@link #rename} keeps the guard of Hive's
 * {@code ProxyLocalFileSystem}, which Spark's bundled {@code hive-exec}
 * registers for {@code file:}: renaming onto an existing file returns
 * {@code false}. Setting permissions is the only behaviour that
 * differs from that class.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} with an in-process {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {

    // OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 .. 0001, in order
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
