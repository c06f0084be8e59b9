package tsforge;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed local filesystem ({@code .crc} sidecars written and
 * verified), except that permissions are set inside the JVM.  Without
 * libhadoop, {@link RawLocalFileSystem#setPermission} forks {@code chmod}
 * for every file, {@code .crc} and directory a write creates.
 *
 * <p>{@code fs.file.impl} names this class; {@code
 * fs.AbstractFileSystem.file.impl} names {@link Fs}, the {@code FileContext}
 * binding used by streaming checkpoints and state stores.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** Sets the 9 rwx bits with one chmod(2) call instead of a child process. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path f = pathToFile(p).toPath();
      if (NativeIO.isAvailable() || (mode & ~0777) != 0 || isSetIdDir(f)) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) perms.add(BITS[i]);
      }
      Files.setPosixFilePermissions(f, perms);
    }

    /** chmod(1) with Hadoop's 4-digit octal mode keeps a directory's
     *  setuid/setgid bits, which chmod(2) with 9 bits would clear. */
    private static boolean isSetIdDir(java.nio.file.Path f) throws IOException {
      int cur = (Integer) Files.getAttribute(f, "unix:mode");
      return (cur & 0170000) == 0040000 && (cur & 06000) != 0;
    }
  }

  /** {@code FileContext} binding: checksummed, over {@link RawFs}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** {@code org.apache.hadoop.fs.local.RawLocalFs} over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
