package datafusion_datasource_orc_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFileAttributeView;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, setting permissions without a child
 * process.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} runs
 * {@code chmod} as a child process for every file, {@code .crc} sidecar and
 * directory that Hadoop creates with a permission. {@link Raw} sets the same
 * nine rwx bits through {@code java.nio} instead, and keeps Hadoop's own path
 * for a mode with sticky, setuid or setgid bits and for a filesystem with no
 * POSIX attribute view. The {@code .crc} layer of {@link LocalFileSystem} is
 * unchanged. Registered for {@code file://} with
 * {@code fs.file.impl=datafusion_datasource_orc_spark.jvm.NioLocalFileSystem}.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} whose {@code setPermission} starts no process. */
  public static class Raw extends RawLocalFileSystem {

    /** Indexed by bit, lowest first: others execute ... owner read. */
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE,
      PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ,
      PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE,
      PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE,
      PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      PosixFileAttributeView view =
          (mode & ~0777) == 0
              ? Files.getFileAttributeView(pathToFile(p).toPath(), PosixFileAttributeView.class)
              : null;
      if (view == null) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          bits.add(BITS[i]);
        }
      }
      view.setPermissions(bits);
    }
  }
}
