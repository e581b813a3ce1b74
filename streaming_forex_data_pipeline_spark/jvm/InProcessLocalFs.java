package forexflow.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem without a child process per file operation.
 *
 * <p>Without libhadoop, the stock RawLocalFileSystem runs {@code chmod} for
 * every file or directory it creates with a permission, and {@code readlink}
 * for every getFileLinkStatus (two per FileContext rename). {@link Raw} does
 * both in-process with java.nio and inherits everything else. {@link Checked}
 * and {@link Context} are the stock checksum wrappers around it (as
 * LocalFileSystem and LocalFs wrap RawLocalFileSystem), so .crc files are
 * still written and verified through both Hadoop APIs.
 */
public final class InProcessLocalFs {
  private InProcessLocalFs() {}

  /** RawLocalFileSystem with nio chmod and readlink. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if (mode > 0777) {  // sticky bit: no PosixFilePermission for it
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {  // OWNER_READ .. OTHERS_EXECUTE
          perms.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * The stock deprecatedGetFileLinkStatusInternal, with its shell readlink
     * of {@code new File(f.toString())} done by Files.readSymbolicLink.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target;
      try {
        target = Files.readSymbolicLink(new File(f.toString()).toPath()).toString().trim();
      } catch (IOException | InvalidPathException | UnsupportedOperationException e) {
        target = "";  // not a link, missing, or not a local path string
      }
      FileStatus link;
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        link = new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
            fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        if (target.isEmpty()) {
          throw e;
        }
        // a dangling link
        link = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), link.getPath(),
          link.getSymlink()));
      return link;
    }
  }

  /** {@code fs.file.impl}: LocalFileSystem over {@link Raw}. */
  public static class Checked extends LocalFileSystem {
    public Checked() {
      super(new Raw());
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: LocalFs over {@link Raw}. */
  public static class Context extends ChecksumFs {
    public Context(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawContext(uri, conf));
    }
  }

  /** org.apache.hadoop.fs.local.RawLocalFs over {@link Raw}. */
  static class RawContext extends DelegateToFileSystem {
    RawContext(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
